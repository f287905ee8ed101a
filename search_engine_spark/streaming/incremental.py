"""Structured-Streaming ingestion: incremental index maintenance.

The reference is batch-only (SURVEY §2.6: no streaming operators exist);
this module is the Spark-native growth path a web-scale corpus needs —
new document files land continuously and the index must absorb them
without a full rebuild:

* ``incremental_index_build`` — readStream over a documents directory →
  per-micro-batch postings/doc_stats written into the streaming index's
  staging tables (foreachBatch; exactly-once via the checkpoint PLUS
  batch-id-keyed dynamic partition overwrite, so a replayed batch
  replaces its own partitions instead of appending duplicates), one
  manifest lineage row per batch. The staged postings serve queries
  directly; ``sources.catalog.compact_streaming_index`` periodically
  re-encodes the accumulated batches into the durable block-encoded
  segment layout (kernel-servable) — a pure layout transform reusing the
  ingest's term buckets, resumable via the same manifest steps. The
  doc-partitioned block layout (block_id = doc_id // span) means new
  high doc_ids only ADD blocks, never rewrite old ones.
* ``watermarked_event_counts`` — event-time tumbling aggregation with a
  watermark for late data (the canonical readStream→window→writeStream
  shape, demonstrated on the events table).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.analyzer import AnalyzerConfig
from ..operators import postings as P


def _write_json_atomic(path: str, obj: dict) -> None:
    """Write-temp-then-rename: a crash mid-write must never destroy a
    previously valid stream_meta.json (it records checkpoint ownership;
    truncate-in-place would lose it)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _max_staged_bucket(stage_dir: str):
    """Highest bucket=<k> partition value present on disk, or None if
    nothing is staged. Used to falsify a claimed bucket count for
    pre-upgrade indexes."""
    best = None
    if not os.path.isdir(stage_dir):
        return None
    for batch in os.listdir(stage_dir):
        bdir = os.path.join(stage_dir, batch)
        if not (batch.startswith("batch=") and os.path.isdir(bdir)):
            continue
        for part in os.listdir(bdir):
            if part.startswith("bucket="):
                try:
                    k = int(part.split("=", 1)[1])
                except ValueError:
                    continue
                best = k if best is None else max(best, k)
    return best


def incremental_index_build(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    schema,
    conf: AnalyzerConfig = AnalyzerConfig.full(),
    buckets: int = 64,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    trust_caller_config: bool = False,
):
    """Start (and with available_now=True, run to completion) a streaming
    ingest of parquet document files into the index staging tables.

    The streaming index dir is its OWN staging namespace: its tables are
    partitioned by (batch, bucket) for replay idempotence, which is a
    different directory depth than the durable build's bucket-only
    layout — mixing the two in one dir would make every parquet read
    fail with conflicting-directory-structure errors, so this refuses a
    dir that a durable build already staged. One checkpoint PATH owns a
    streaming index dir for its lifetime: a different checkpoint would
    restart batch ids at 0 against a foreign dir and is refused.

    Wiping the checkpoint at the SAME path is the standard full-replay
    reset and is safe — availableNow reprocesses every source file, and
    the batch-keyed overwrite rebuilds all partitions to the current
    input (tested by the replay-idempotence test). The one unsafe
    variant is wiping the checkpoint AFTER deleting source files:
    Structured Streaming's replayable-source contract (retain the files
    the checkpoint hasn't aged out) applies here exactly as upstream.
    """
    checkpoint_dir = checkpoint_dir or os.path.join(index_dir, "_stream_checkpoint")
    stage_dir = os.path.join(index_dir, "postings_stage")
    ds_dir = os.path.join(index_dir, "doc_stats")
    os.makedirs(os.path.join(index_dir, "manifest"), exist_ok=True)
    if os.path.exists(os.path.join(index_dir, "manifest", "postings_stage.json")):
        raise ValueError(
            f"{index_dir} holds a durable (bucket-partitioned) build; "
            "streaming ingest uses a (batch, bucket) layout — ingest into "
            "a separate index dir")
    meta_path = os.path.join(index_dir, "manifest", "stream_meta.json")
    ckpt_abs = os.path.abspath(checkpoint_dir)
    analyzer_meta = {"lowercase": conf.lowercase,
                     "remove_stopwords": conf.remove_stopwords,
                     "stem": conf.stem}
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("checkpoint_dir") != ckpt_abs:
            raise ValueError(
                f"{index_dir} is owned by checkpoint "
                f"{meta.get('checkpoint_dir')}; a different checkpoint "
                f"({ckpt_abs}) would restart batch ids at 0 and "
                "overwrite the earlier ingest's partitions")
        # A re-run must stage into the SAME bucket space and token space
        # as the batches already on disk: a changed buckets count would
        # put new postings where the recorded-buckets query hash never
        # looks (silently missing results), and a changed analyzer mixes
        # incompatible token streams.
        if meta.get("buckets", buckets) != buckets:
            raise ValueError(
                f"{index_dir} was ingested with buckets="
                f"{meta['buckets']}; re-running with buckets={buckets} "
                "would stage postings in a bucket space queries never "
                "scan — pass the original value")
        if meta.get("analyzer", analyzer_meta) != analyzer_meta:
            raise ValueError(
                f"{index_dir} was ingested with analyzer "
                f"{meta['analyzer']}; re-running with {analyzer_meta} "
                "would mix incompatible token streams — pass the "
                "original AnalyzerConfig")
        if "buckets" not in meta or "analyzer" not in meta:
            # Pre-upgrade index (meta written before buckets/analyzer
            # were recorded). The meta CANNOT verify the caller's values
            # against what the legacy ingest actually used, and stamping
            # a wrong buckets/analyzer here would permanently legitimize
            # a mismatched re-run (new batches staged in a bucket space
            # queries never scan, compaction trusting the wrong count) —
            # so the caller must explicitly accept that responsibility.
            if not trust_caller_config:
                raise ValueError(
                    f"{index_dir} predates buckets/analyzer recording in "
                    "stream_meta.json; confirm the ORIGINAL ingest's "
                    "buckets and AnalyzerConfig, pass them, and set "
                    "trust_caller_config=True to stamp them (a wrong "
                    "value silently mixes incompatible bucket/token "
                    "spaces)")
            # Cheap disk falsification before stamping: staged partition
            # dirs are bucket=<k> with k in [0, true_buckets); any k >=
            # the claimed count proves the claim wrong.
            seen = _max_staged_bucket(stage_dir)
            if seen is not None and seen >= buckets:
                raise ValueError(
                    f"{index_dir} has staged partitions up to "
                    f"bucket={seen}, impossible under the claimed "
                    f"buckets={buckets} — the original ingest used a "
                    "larger bucket count")
            meta.update({"buckets": buckets, "analyzer": analyzer_meta})
            _write_json_atomic(meta_path, meta)
    else:
        # buckets + analyzer recorded for the compaction job
        # (catalog.compact_streaming_index): re-encode must reuse the
        # ingest's term-bucket hashing and declare the same analyzer
        _write_json_atomic(meta_path, {
            "checkpoint_dir": ckpt_abs, "ts": time.time(),
            "buckets": buckets, "analyzer": analyzer_meta})

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def absorb(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        post = P.build_postings(batch_df, conf, positional=True).withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(buckets)).cast("int")
        ).persist()
        try:
            # batch_id-keyed dynamic partition overwrite makes the sink
            # IDEMPOTENT under micro-batch replay: a crash after this
            # write but before checkpoint commit re-runs the same
            # batch_id, which REPLACES batch=<id> partitions instead of
            # appending duplicate posting rows (plain append is only
            # at-least-once)
            post.withColumn("batch", F.lit(batch_id)) \
                .write.mode("overwrite") \
                .option("partitionOverwriteMode", "dynamic") \
                .partitionBy("batch", "bucket").parquet(stage_dir)
            # doc_stats derives from the just-built postings (dl rides on
            # every row) — the analyzer UDF, the most expensive stage,
            # runs ONCE per micro-batch instead of twice (same derivation
            # as the durable build); token-less docs re-enter with dl=0
            ds = post.select("doc_id", "dl").distinct()
            empties = batch_df.select("doc_id").join(
                ds.select("doc_id"), "doc_id", "left_anti"
            ).withColumn("dl", F.lit(0))
            ds.unionByName(empties).withColumn("batch", F.lit(batch_id)) \
                .write.mode("overwrite") \
                .option("partitionOverwriteMode", "dynamic") \
                .partitionBy("batch").parquet(ds_dir)
            n = batch_df.count()
        finally:
            post.unpersist()
            batch_df.unpersist()
        with open(os.path.join(index_dir, "manifest",
                               f"stream_batch_{batch_id}.json"), "w") as f:
            json.dump({"step": f"stream_batch_{batch_id}", "rows": n,
                       "ts": time.time()}, f)

    writer = stream.writeStream.foreachBatch(absorb) \
        .option("checkpointLocation", checkpoint_dir)
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def watermarked_event_counts(events_stream: DataFrame, minutes: int = 60,
                             watermark: str = "2 hours") -> DataFrame:
    """event-time tumbling counts tolerating late arrivals up to the
    watermark — attach to readStream(events) and writeStream as needed."""
    if dict(events_stream.dtypes).get("ts") == "timestamp_ntz":
        # watermarks require TIMESTAMP; session TZ is pinned UTC so the
        # NTZ→LTZ cast is exact
        events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{minutes} minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def streaming_sessionize(events_stream: DataFrame, gap_minutes: int = 30,
                         watermark: str = "10 minutes",
                         retain_counter: bool = True) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    gap-based sessionization IDENTICAL to the batch
    ``operators.events.sessionize`` for any event lateness the watermark
    admits.

    Design: per-user state buffers the UNSEALED events (ts, event_id,
    value arrays). A session is sealed — emitted, removed from the
    buffer — only once the event-time watermark passes session_end + gap:
    from then on no admissible event can merge into it (any new event has
    ts >= watermark > end + gap, and anything older is dropped by the
    watermark), so sealing order equals batch order and late events that
    arrive out of order, even BEFORE the open session's start, land in
    exactly the session the batch identity dictates. The per-user
    session counter lives in state (a sealed-empty buffer keeps it), so
    session_id numbering stays monotonic 1..n per user like the batch
    running-sum. Buffer size is bounded by the watermark window; the
    counter tombstone is one tiny row per user ever seen —
    ``retain_counter=False`` removes fully-sealed state instead (bounded
    by ACTIVE users; session_id restarts for returning users).

    Output: (user_id, session_id, session_start, session_end, n_events,
    total_value) — append mode.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType, TimestampType)

    if dict(events_stream.dtypes).get("ts") == "timestamp_ntz":
        events_stream = events_stream.withColumn(
            "ts", F.col("ts").cast("timestamp"))

    gap_s = gap_minutes * 60
    out_type = StructType([
        StructField("user_id", LongType()),
        StructField("session_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ])
    state_type = StructType([
        StructField("sid", LongType()),
        StructField("ts_us", ArrayType(LongType())),
        StructField("eids", ArrayType(LongType())),
        StructField("vals", ArrayType(DoubleType())),
    ])

    def fn(key, pdfs, state: GroupState):
        uid = key[0]
        if state.exists:
            sid, ts_us, eids, vals = state.get
            ts_us, eids, vals = list(ts_us), list(eids), list(vals)
        else:
            sid, ts_us, eids, vals = 0, [], [], []

        if not state.hasTimedOut:
            for pdf in pdfs:
                ts_us.extend(int(t.value // 1000) for t in pdf["ts"])
                eids.extend(int(e) for e in pdf["event_id"])
                vals.extend(float(v) for v in pdf["value"])

        # sort buffered events by (ts, event_id) — the batch window order
        order = sorted(range(len(ts_us)), key=lambda i: (ts_us[i], eids[i]))
        ts_us = [ts_us[i] for i in order]
        eids = [eids[i] for i in order]
        vals = [vals[i] for i in order]

        # split into sessions on the exact-microsecond gap — identical
        # integer arithmetic to the batch unix_micros test (events.py)
        gap_us = gap_s * 1_000_000
        bounds = [0]
        for i in range(1, len(ts_us)):
            if ts_us[i] - ts_us[i - 1] > gap_us:
                bounds.append(i)
        bounds.append(len(ts_us))

        wm_ms = state.getCurrentWatermarkMs()
        out = []
        keep_from = len(ts_us)
        for b in range(len(bounds) - 1):
            lo, hi = bounds[b], bounds[b + 1]
            if lo == hi:
                continue
            end_us = ts_us[hi - 1]
            # an event merges iff ts_us <= end_us + gap_us (the exact
            # batch gap test), and the watermark admits ts >= wm — seal
            # only once NO admissible event can merge
            sealed = wm_ms * 1000 > end_us + gap_us
            if sealed:
                # batch identity demands Spark's ROUND semantics:
                # F.round on a double is HALF_UP over the shortest
                # decimal repr (BigDecimal.valueOf). Python's round() is
                # banker's and diverges on x.xxxx5 sums.
                from decimal import ROUND_HALF_UP, Decimal

                total = float(
                    Decimal(repr(sum(vals[lo:hi])))
                    .quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))
                sid += 1
                out.append({
                    "user_id": uid, "session_id": sid,
                    "session_start": pd.to_datetime(ts_us[lo], unit="us"),
                    "session_end": pd.to_datetime(end_us, unit="us"),
                    "n_events": hi - lo,
                    "total_value": total,
                })
            else:
                keep_from = lo
                break  # later sessions end even later — none sealed

        ts_us, eids, vals = ts_us[keep_from:], eids[keep_from:], vals[keep_from:]
        if not ts_us and not retain_counter:
            # unbounded-cardinality mode: drop the (sid) tombstone when
            # everything is sealed — state stays bounded by ACTIVE users,
            # at the cost of session_id restarting at 1 if the user
            # returns (batch identity holds only per retention window)
            if state.exists:
                state.remove()
            if out:
                yield pd.DataFrame(out)
            return
        state.update((sid, ts_us, eids, vals))
        if ts_us:
            # wake when the watermark clears the last open session's
            # merge window (end + gap, rounded up to the next ms)
            state.setTimeoutTimestamp(
                max((ts_us[-1] + gap_us) // 1000 + 1, wm_ms + 1))
        if out:
            yield pd.DataFrame(out)

    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_type, state_type, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_url_dedup(docs_stream: DataFrame, url_col: str = "url",
                        ts_col: str = "fetch_ts",
                        watermark: str = "1 hour") -> DataFrame:
    """First-fetch-wins URL dedup for a crawl STREAM: canonicalize
    (operators.urls.canonical_url — same rules as the batch operator,
    narrow JVM projection) and keep the first arrival per canonical URL.

    State is bounded by the watermark via dropDuplicatesWithinWatermark:
    a canonical URL refetched more than ``watermark`` of event time
    later is admitted again — exactly the recrawl semantics a continuous
    crawler wants (the batch ``urls.url_dedup`` is the whole-corpus
    collapse; this is the ingest-time guard that keeps near-in-time
    refetches out of the staged corpus). Requires an event-time column
    ``ts_col``; when the input carries none, pass ``watermark=None``
    explicitly to opt into UNBOUNDED keyed state (fine for bounded
    backfills replayed through the streaming path, a leak on a real
    24/7 stream — hence opt-in).

    Output: the input columns plus ``url_canon``, append mode. Batch
    parity: for a stream whose arrival order is doc_id order, survivors
    == batch url_dedup survivors within one watermark window
    (pytest-gated in tests/test_streaming.py).
    """
    from ..operators import urls as _urls

    out = docs_stream.withColumn(
        "url_canon", _urls.canonical_url(F.col(url_col)))
    if watermark is None:
        return out.dropDuplicates(["url_canon"])
    if dict(out.dtypes).get(ts_col) == "timestamp_ntz":
        out = out.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        out.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["url_canon"])
    )
