"""Windowed / sessionized analytics over the events stream table.

The reference engine has no window functions (SURVEY §2.6 — its only
temporal feature is the date2doc filter); these operators supply the
window-function + event-time coverage a production corpus pipeline needs
(ingest monitoring, per-source rate stats), each expressible in ANSI SQL
for the DuckDB oracle:

* tumbling_counts — fixed windows via date_trunc-aligned grouping
* sliding_topk    — top event types per TUMBLING window by count (rank
                    window fn; the name is historical — windows do not
                    overlap)
* sessionize      — gap-based sessions: lag + cumulative-sum-of-breaks
                    (the batch formulation of session windows)
* session_cooccurrence — within-session type co-occurrence with lift
                    (the "related searches" / market-basket shape)
* user_stats      — per-user aggregates incl. exact value percentiles
* decayed_counts  — exponentially time-decayed event counts (recency-
                    weighted activity, the freshness signal rankers and
                    crawl schedulers consume)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def tumbling_counts(events: DataFrame, minutes: int = 60) -> DataFrame:
    """→ (window_start, event_type, n, total_value). Fixed tumbling
    windows; groupBy on the truncated timestamp keeps the shuffle key
    small and AQE-coalescible."""
    win = F.window("ts", f"{minutes} minutes")
    return (
        events.groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n",
                "total_value")
    )


def sliding_topk(events: DataFrame, minutes: int = 60, k: int = 3) -> DataFrame:
    """→ top-k event types per tumbling window by count (rank window)."""
    counts = tumbling_counts(events, minutes)
    w = Window.partitionBy("window_start").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("window_start", "event_type", "n", "rnk")
    )


def with_session_ids(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Events + a per-user ``session_id`` column (gap-based).

    lag over (user_id, ts) marks breaks; a running sum of breaks numbers
    the sessions — the standard batch windowing identity. One shuffle
    (partitionBy user_id); skewed power-users are still bounded because
    the window is per-user and AQE splits oversized partitions.
    """
    byu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact MICROSECOND gap test (cast via TIMESTAMP first: parquet may
    # carry TIMESTAMP_NTZ; session TZ is pinned UTC so this is exact).
    # Flooring to whole seconds would merge a true gap of e.g. 1800.8 s,
    # silently diverging from fractional event time and the DuckDB
    # oracle's epoch_us; integer µs arithmetic has no float boundary.
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = epoch - F.lag(epoch).over(byu)
    return events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), 1)
        .otherwise(0),
    ).withColumn("session_id", F.sum("new_session").over(byu)) \
     .drop("new_session")


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization → (user_id, session_id, session_start,
    session_end, n_events, total_value). See ``with_session_ids`` for
    the windowing identity and its scale shape."""
    return (
        with_session_ids(events, gap_minutes)
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def session_cooccurrence(events: DataFrame, gap_minutes: int = 30,
                         min_sessions: int = 1) -> DataFrame:
    """Within-session co-occurrence of event types with lift — the
    "related searches" / market-basket shape over a behavior log:
    → (type_a, type_b, n_sessions, lift), type_a < type_b.

    ``n_sessions`` = sessions containing BOTH types;
    ``lift`` = P(a,b) / (P(a)·P(b)) with probabilities over sessions —
    >1 means the pair co-occurs more than independent popularity
    predicts (the signal that separates "related" from "both popular").

    Scale shape: session membership is deduped to (user, session, type)
    FIRST, so the self-join that forms pairs is keyed on the session and
    bounded by |event-type alphabet| rows per session — linear in
    sessions, never quadratic in events. Per-type session counts are a
    tiny frame (|alphabet| rows) broadcast into the lift join; the
    session total is one O(1) driver aggregate. ``min_sessions`` prunes
    noise pairs before the broadcast joins.
    """
    if min_sessions < 1:
        raise ValueError(f"min_sessions must be >= 1: {min_sessions}")
    mem = (with_session_ids(events, gap_minutes)
           .select("user_id", "session_id", "event_type")
           .distinct())
    # bounded driver scalar: total distinct sessions
    n_total = (mem.select("user_id", "session_id").distinct().count())
    singles = mem.groupBy("event_type").agg(
        F.count("*").alias("n_type"))
    a, b = mem.alias("a"), mem.alias("b")
    pairs = (a.join(b, ["user_id", "session_id"])
             .filter(F.col("a.event_type") < F.col("b.event_type"))
             .groupBy(F.col("a.event_type").alias("type_a"),
                      F.col("b.event_type").alias("type_b"))
             .agg(F.count("*").alias("n_sessions"))
             .filter(F.col("n_sessions") >= min_sessions))
    sa = F.broadcast(singles.select(F.col("event_type").alias("type_a"),
                                    F.col("n_type").alias("n_a")))
    sb = F.broadcast(singles.select(F.col("event_type").alias("type_b"),
                                    F.col("n_type").alias("n_b")))
    return (pairs.join(sa, "type_a").join(sb, "type_b")
            .select("type_a", "type_b", "n_sessions",
                    F.round(F.col("n_sessions") * F.lit(float(n_total))
                            / (F.col("n_a") * F.col("n_b")), 6)
                    .alias("lift")))


def user_stats(events: DataFrame) -> DataFrame:
    """→ per-user aggregates (n, distinct types, mean/max value, exact
    p50/p95 value percentiles)."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.round(F.avg("value"), 4).alias("mean_value"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50_value"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95_value"),
    )


def decayed_counts(events: DataFrame, half_life_minutes: float = 1440.0,
                   as_of=None,
                   by: tuple[str, ...] = ("user_id", "event_type")
                   ) -> DataFrame:
    """→ per-``by``-group exponentially time-decayed counts: each event
    contributes 2^(−age/half_life), so activity half_life ago counts
    half as much — the standard freshness signal for recency-boosted
    ranking and recrawl scheduling.

    ``as_of=None`` anchors decay at max(ts) (one O(1) driver agg —
    deterministic given the data); pass a timestamp for reproducible
    pipelines. One map-side-combined aggregate; age arithmetic is exact
    integer microseconds before the one float divide. ``decayed_n`` is
    a float sum over the group's events, rounded to 4 dp (the
    ``user_stats`` convention — combine-order noise is ~1e-12 relative
    at any realistic group size).
    """
    if half_life_minutes <= 0:
        raise ValueError(
            f"half_life_minutes must be > 0: {half_life_minutes}")
    if as_of is None:
        as_of = events.agg(F.max("ts")).collect()[0][0]
        if as_of is None:
            raise ValueError("events frame is empty and as_of not given")
    age_us = (F.unix_micros(F.lit(as_of).cast("timestamp"))
              - F.unix_micros(F.col("ts").cast("timestamp")))
    w = F.pow(F.lit(2.0),
              -(age_us / F.lit(half_life_minutes * 60_000_000.0)))
    return events.groupBy(*by).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(w), 4).alias("decayed_n"),
    )
