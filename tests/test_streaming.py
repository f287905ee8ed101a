"""Streaming ingestion: incremental index equals batch index over the
same documents; late-data watermark plan sanity."""

import glob
import os

import pytest

from pyspark.sql import functions as F

from search_engine_spark.operators import postings as P
from search_engine_spark.streaming import incremental


def test_incremental_equals_batch(spark, corpus_sdf, tmp_path):
    src = str(tmp_path / "incoming")
    # drop the corpus as several files to simulate arriving batches
    corpus_sdf.select("doc_id", "text").repartition(6).write.parquet(src)

    index_dir = str(tmp_path / "streamidx")
    schema = spark.read.parquet(src).schema
    incremental.incremental_index_build(
        spark, src, index_dir, schema, available_now=True
    )

    got = spark.read.parquet(os.path.join(index_dir, "postings_stage"))
    want = P.build_postings(corpus_sdf.select("doc_id", "text"))
    g = {(r.term, r.doc_id): (r.tf, list(r.positions)) for r in got.collect()}
    w = {(r.term, r.doc_id): (r.tf, list(r.positions)) for r in want.collect()}
    assert g == w

    # lineage rows exist for the processed stream batches
    assert glob.glob(os.path.join(index_dir, "manifest", "stream_batch_*.json"))

    # doc_stats complete
    ds = spark.read.parquet(os.path.join(index_dir, "doc_stats"))
    assert ds.count() == corpus_sdf.count()


def test_watermarked_plan_builds(spark, tmp_path):
    src = str(tmp_path / "ev")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = incremental.watermarked_event_counts(stream, minutes=30)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory").queryName("wm_counts")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    # append mode emits only windows closed by the watermark; the final
    # window stays open, so emitted <= batch-computed windows
    batch = spark.read.parquet(src)
    want = batch.groupBy(F.window("ts", "30 minutes"), "event_type").count().count()
    got = spark.sql("select * from wm_counts").count()
    assert 0 < got <= want


def test_streaming_sessionize_equals_batch(spark, tmp_path):
    """Stateful applyInPandasWithState sessionizer == batch sessionize on
    the same events, including sessions split across micro-batches."""
    from search_engine_spark.operators import events as EV

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "sess_src")
    os.makedirs(src)
    # three time-ordered chunks (sessions straddle the cuts) + a
    # far-future sentinel event whose watermark advance flushes every
    # open session via the event-time timeout
    rows = ev.orderBy("ts").collect()
    cuts = [len(rows) // 3, 2 * len(rows) // 3, len(rows)]
    lo = 0
    for i, hi in enumerate(cuts):
        spark.createDataFrame(rows[lo:hi], ev.schema).coalesce(1) \
            .write.parquet(os.path.join(src, f"chunk={i}"))
        lo = hi
    sentinel = spark.sql(
        "select cast(999999 as long) event_id,"
        " timestamp'2030-01-01 00:00:00' ts, cast(-1 as long) user_id,"
        " 'sentinel' event_type, cast(0.0 as double) value, '{}' props"
    )
    sentinel.coalesce(1).write.parquet(os.path.join(src, "chunk=3"))

    stream = spark.readStream.schema(ev.schema) \
        .option("maxFilesPerTrigger", 1) \
        .parquet(src + "/chunk=*")
    out = incremental.streaming_sessionize(stream, gap_minutes=30)
    q = (
        out.writeStream.format("memory").queryName("sess_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()

    got = {
        (r.user_id, r.session_id):
            (r.session_start, r.session_end, r.n_events, r.total_value)
        for r in spark.sql("select * from sess_stream").collect()
        if r.user_id != -1
    }
    want = {
        (r.user_id, r.session_id):
            (r.session_start, r.session_end, r.n_events, r.total_value)
        for r in EV.sessionize(ev, gap_minutes=30).collect()
    }
    assert got == want


def test_streaming_sessionize_tolerates_late_within_watermark(spark, tmp_path):
    """Events arriving one micro-batch late but within the watermark must
    still merge into their session (the watermark's whole purpose)."""
    from datetime import datetime

    from search_engine_spark.operators import events as EV

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")

    def mk(rows):
        return spark.createDataFrame(
            [(i, datetime(2024, 1, 1, h, m), u, "e", 1.0, "{}")
             for i, (h, m, u) in enumerate(rows)], schema)

    src = str(tmp_path / "late_src")
    os.makedirs(src)
    # chunk 0: user 1 events at 10:00, 10:05; user 2 at 10:20
    mk([(10, 0, 1), (10, 5, 1), (10, 20, 2)]).coalesce(1) \
        .write.parquet(os.path.join(src, "c=0"))
    # chunk 1: LATE events within the 30 min watermark — user 1 gets
    # 10:10 (after its open end) AND 9:58 (BEFORE its open start: the
    # session must extend backward); user 2 continues at 10:25
    mk([(10, 10, 1), (9, 58, 1), (10, 25, 2)]).coalesce(1) \
        .write.parquet(os.path.join(src, "c=1"))
    # chunk 2: sentinel far future → flush all sessions via timeout
    mk([(23, 59, 99)]).coalesce(1).write.parquet(os.path.join(src, "c=2"))

    stream = spark.readStream.schema(schema) \
        .option("maxFilesPerTrigger", 1).parquet(src + "/c=*")
    out = incremental.streaming_sessionize(stream, gap_minutes=30,
                                           watermark="30 minutes")
    q = (out.writeStream.format("memory").queryName("late_sess")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()

    got = {(r.user_id, r.session_id): (r.session_start, r.session_end,
                                       r.n_events)
           for r in spark.sql("select * from late_sess").collect()
           if r.user_id != 99}
    # user 1: ONE session 09:58-10:10 with 4 events (late events merged,
    # start extended backward); user 2: ONE session 10:20-10:25, 2 events
    assert got[(1, 1)] == (datetime(2024, 1, 1, 9, 58),
                           datetime(2024, 1, 1, 10, 10), 4)
    assert got[(2, 1)] == (datetime(2024, 1, 1, 10, 20),
                           datetime(2024, 1, 1, 10, 25), 2)
    assert len(got) == 2


def test_streaming_sessionize_far_early_late_event_splits(spark, tmp_path):
    """A late event more than gap BEFORE the open session must become its
    own earlier session (not merge), and session numbering must follow
    batch time order across seals — the full batch identity."""
    from datetime import datetime

    from search_engine_spark.operators import events as EV

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")

    def mk(rows):
        return spark.createDataFrame(
            [(i + off, datetime(2024, 1, 1, h, m), u, "e", 1.0, "{}")
             for i, (h, m, u) in enumerate(rows)], schema)

    src = str(tmp_path / "early_src")
    os.makedirs(src)
    off = 0
    mk([(12, 0, 1), (12, 5, 1)]).coalesce(1) \
        .write.parquet(os.path.join(src, "c=0"))
    off = 10
    # late event at 11:00 — 60 min before the open session start, within
    # the 2h watermark, but beyond the 30 min gap: separate session
    mk([(11, 0, 1), (12, 10, 1)]).coalesce(1) \
        .write.parquet(os.path.join(src, "c=1"))
    off = 20
    mk([(23, 59, 99)]).coalesce(1).write.parquet(os.path.join(src, "c=2"))

    stream = spark.readStream.schema(schema) \
        .option("maxFilesPerTrigger", 1).parquet(src + "/c=*")
    out = incremental.streaming_sessionize(stream, gap_minutes=30,
                                           watermark="2 hours")
    q = (out.writeStream.format("memory").queryName("early_sess")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()

    got = {(r.user_id, r.session_id):
           (r.session_start, r.session_end, r.n_events)
           for r in spark.sql("select * from early_sess").collect()
           if r.user_id != 99}
    # batch identity: session 1 = [11:00], session 2 = [12:00-12:10]
    assert got == {
        (1, 1): (datetime(2024, 1, 1, 11, 0), datetime(2024, 1, 1, 11, 0), 1),
        (1, 2): (datetime(2024, 1, 1, 12, 0), datetime(2024, 1, 1, 12, 10), 3),
    }

    # cross-check against batch sessionize on the same events
    ev = spark.read.parquet(src + "/c=*").filter("user_id != 99")
    want = {(r.user_id, r.session_id):
            (r.session_start, r.session_end, r.n_events)
            for r in EV.sessionize(ev, gap_minutes=30).collect()}
    assert got == want


def test_incremental_replay_is_idempotent(spark, corpus_sdf, tmp_path):
    """Re-running an already-committed micro-batch (crash-between-write-
    and-checkpoint) must not duplicate postings: the batch-keyed dynamic
    overwrite replaces its own partitions."""
    src = str(tmp_path / "replay_src")
    corpus_sdf.select("doc_id", "text").coalesce(1).write.parquet(src)
    index_dir = str(tmp_path / "replay_idx")
    schema = spark.read.parquet(src).schema
    incremental.incremental_index_build(spark, src, index_dir, schema)
    stage = os.path.join(index_dir, "postings_stage")
    before = spark.read.parquet(stage).count()
    # simulate replay: wipe the checkpoint so the same files re-process
    # under the same batch ids
    import shutil
    shutil.rmtree(os.path.join(index_dir, "_stream_checkpoint"))
    incremental.incremental_index_build(spark, src, index_dir, schema)
    after = spark.read.parquet(stage).count()
    assert after == before  # replaced, not appended


def test_incremental_rerun_config_guards(spark, corpus_sdf, tmp_path):
    """A re-run must stage into the same bucket/token space as the
    batches already on disk: changed buckets put postings where the
    recorded-buckets query hash never looks, changed analyzer mixes
    incompatible token streams — both refused. A pre-upgrade meta file
    (no buckets/analyzer keys) is upgraded only when the caller
    explicitly vouches for the config (trust_caller_config=True), and a
    claimed bucket count falsified by on-disk partitions is refused."""
    import json

    from search_engine_spark.functions.analyzer import AnalyzerConfig

    src = str(tmp_path / "cfg_src")
    corpus_sdf.select("doc_id", "text").coalesce(1).write.parquet(src)
    index_dir = str(tmp_path / "cfg_idx")
    schema = spark.read.parquet(src).schema
    incremental.incremental_index_build(spark, src, index_dir, schema,
                                        buckets=8)
    with pytest.raises(ValueError, match="bucket space"):
        incremental.incremental_index_build(spark, src, index_dir, schema,
                                            buckets=16)
    with pytest.raises(ValueError, match="token streams"):
        incremental.incremental_index_build(
            spark, src, index_dir, schema, buckets=8,
            conf=AnalyzerConfig.simple())
    # pre-upgrade meta: strip the keys. A re-run must refuse unless the
    # caller explicitly vouches for the config (the meta can no longer
    # verify it) ...
    meta_path = os.path.join(index_dir, "manifest", "stream_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    del meta["buckets"], meta["analyzer"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="trust_caller_config"):
        incremental.incremental_index_build(spark, src, index_dir, schema,
                                            buckets=8)
    # ... and a vouched-for count disproved by staged bucket=<k> dirs on
    # disk (k >= claimed count) is still refused
    with pytest.raises(ValueError, match="impossible"):
        incremental.incremental_index_build(spark, src, index_dir, schema,
                                            buckets=2,
                                            trust_caller_config=True)
    # vouched-for AND disk-consistent: accepted, keys restored for the
    # compaction job
    incremental.incremental_index_build(spark, src, index_dir, schema,
                                        buckets=8,
                                        trust_caller_config=True)
    with open(meta_path) as f:
        upgraded = json.load(f)
    assert upgraded["buckets"] == 8 and "analyzer" in upgraded


def test_streaming_sessionize_randomized_identity(spark, tmp_path):
    """Property check: random event times with random gaps, arriving in
    random order across micro-batches (bounded lateness), must produce
    EXACTLY the batch sessionize output — sessions, boundaries, counts,
    ids."""
    import numpy as np

    from search_engine_spark.operators import events as EV

    rng = np.random.default_rng(99)
    base = 1_700_000_000  # fixed epoch seconds
    rows = []
    eid = 0
    for u in (1, 2, 3):
        t = base
        for _ in range(30):
            t += int(rng.integers(60, 3600))  # gaps 1 min .. 1 h
            rows.append((eid, t, u, "e", float(rng.integers(1, 50)), "{}"))
            eid += 1
    # arrival order = global TIME order plus bounded jitter (a few
    # positions early/late → lateness well under the 4 h watermark);
    # users interleave on the shared timeline like a real event stream
    rows.sort(key=lambda r: r[1])
    order = np.argsort(np.arange(len(rows)) + rng.uniform(-3, 3, len(rows)))
    shuffled = [rows[i] for i in order]

    src = str(tmp_path / "rand_src")
    os.makedirs(src)
    chunk = 10
    from pyspark.sql import functions as SF
    schema = ("event_id long, epoch long, user_id long, "
              "event_type string, value double, props string")
    for c, lo in enumerate(range(0, len(shuffled), chunk)):
        spark.createDataFrame(shuffled[lo:lo + chunk], schema) \
            .withColumn("ts", SF.timestamp_seconds("epoch")).drop("epoch") \
            .coalesce(1).write.parquet(os.path.join(src, f"c={c:03d}"))
    sentinel = spark.createDataFrame(
        [(999999, base + 10_000_000, 99, "s", 0.0, "{}")], schema) \
        .withColumn("ts", SF.timestamp_seconds("epoch")).drop("epoch")
    sentinel.coalesce(1).write.parquet(os.path.join(src, "c=zzz"))

    ev_schema = spark.read.parquet(os.path.join(src, "c=000")).schema
    stream = spark.readStream.schema(ev_schema) \
        .option("maxFilesPerTrigger", 1).parquet(src + "/c=*")
    out = incremental.streaming_sessionize(stream, gap_minutes=30,
                                           watermark="4 hours")
    q = (out.writeStream.format("memory").queryName("rand_sess")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()

    got = {(r.user_id, r.session_id):
           (r.session_start, r.session_end, r.n_events, r.total_value)
           for r in spark.sql("select * from rand_sess").collect()
           if r.user_id != 99}
    ev = spark.read.parquet(src + "/c=*").filter("user_id != 99")
    want = {(r.user_id, r.session_id):
            (r.session_start, r.session_end, r.n_events, r.total_value)
            for r in EV.sessionize(ev, gap_minutes=30).collect()}
    assert got == want and len(got) > 10


def test_compaction_produces_identical_durable_index(spark, corpus_sdf,
                                                     tmp_path):
    """streaming ingest → compact_streaming_index == a direct durable
    build over the same docs: identical MaxScore top-k (scores included) and
    a working positional (phrase) path — the streaming growth story ends
    in a first-class segment index."""
    from search_engine_spark.operators import phrase as PH
    from search_engine_spark.operators import maxscore as MS
    from search_engine_spark.sources import catalog

    src = str(tmp_path / "cmp_src")
    corpus_sdf.select("doc_id", "text").repartition(4).write.parquet(src)
    stream_dir = str(tmp_path / "cmp_stream")
    schema = spark.read.parquet(src).schema
    incremental.incremental_index_build(spark, src, stream_dir, schema,
                                        buckets=16)
    out = str(tmp_path / "cmp_durable")
    catalog.compact_streaming_index(spark, stream_dir, out, shards=2,
                                    block_span=64)
    direct = str(tmp_path / "cmp_direct")
    catalog.build_durable_index(spark, corpus_sdf.select("doc_id", "text"),
                                direct, buckets=16, shards=2, block_span=64)
    a = catalog.load_index(spark, out)
    b = catalog.load_index(spark, direct)
    for q in ("market price", "germany economy china", "market"):
        assert (MS.search_maxscore(a, q, k=20)
                == MS.search_maxscore(b, q, k=20)), q
    # positions survived the re-encode
    got = {r.doc_id: r.phrase_tf for r in
           PH.phrase_occurrences(a, ["germani", "economi"]).collect()}
    want = {r.doc_id: r.phrase_tf for r in
            PH.phrase_occurrences(b, ["germani", "economi"]).collect()}
    assert got == want and got
    # lineage records the compaction provenance
    steps = {m["step"] for m in catalog.lineage_rows(out)}
    assert "compacted_from" in steps and "build_complete" in steps


def test_compaction_guards(spark, corpus_sdf, tmp_path):
    from search_engine_spark.functions.analyzer import AnalyzerConfig
    from search_engine_spark.sources import catalog

    src = str(tmp_path / "g_src")
    corpus_sdf.select("doc_id", "text").coalesce(1).write.parquet(src)
    stream_dir = str(tmp_path / "g_stream")
    schema = spark.read.parquet(src).schema
    incremental.incremental_index_build(spark, src, stream_dir, schema,
                                        buckets=8)
    with pytest.raises(ValueError, match="NEW dir"):
        catalog.compact_streaming_index(spark, stream_dir, stream_dir)
    with pytest.raises(ValueError, match="analyzer"):
        catalog.compact_streaming_index(
            spark, stream_dir, str(tmp_path / "g_out"),
            conf=AnalyzerConfig.simple())
    with pytest.raises(ValueError, match="not a streaming index"):
        catalog.compact_streaming_index(
            spark, str(tmp_path / "nope"), str(tmp_path / "g_out2"))


def test_streaming_url_dedup_equals_batch(spark, tmp_path):
    """First-arrival streaming URL dedup == batch min-id url_dedup when
    rows arrive in doc_id order (one file, one batch preserves order);
    dup spellings of one canonical URL collapse, distinct URLs pass."""
    from datetime import datetime

    from search_engine_spark.operators import urls as U

    base = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, "http://a.com/x?utm_source=f", base),
        (2, "HTTP://A.com/x", base),                 # dup of 1
        (3, "http://a.com/y", base),
        (4, "http://www.a.com/x#frag", base),        # dup of 1
        (5, "https://b.com:443/z/", base),
    ]
    src = str(tmp_path / "crawl")
    sdf = spark.createDataFrame(
        rows, "doc_id long, url string, fetch_ts timestamp") \
        .repartition(1).sortWithinPartitions("doc_id")
    sdf.write.parquet(src)
    stream = spark.readStream.schema(sdf.schema).parquet(src)
    out = incremental.streaming_url_dedup(stream)
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("url_dedup_s")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["doc_id"], r["url_canon"])
           for r in spark.sql("select * from url_dedup_s").collect()}
    want = {(r["doc_id"], r["url_canon"])
            for r in U.url_dedup(spark.read.parquet(src)).collect()}
    assert got == want
    assert len(got) == 3


def test_streaming_url_dedup_unbounded_optin(spark, tmp_path):
    """watermark=None (no event-time column) opts into unbounded-state
    dropDuplicates — the bounded-backfill path."""
    src = str(tmp_path / "crawl2")
    sdf = spark.createDataFrame(
        [(1, "http://a.com/x"), (2, "http://a.com/x?utm_source=z")],
        "doc_id long, url string")
    sdf.repartition(1).sortWithinPartitions("doc_id").write.parquet(src)
    stream = spark.readStream.schema(sdf.schema).parquet(src)
    out = incremental.streaming_url_dedup(stream, watermark=None)
    q = (out.writeStream.format("memory").queryName("url_dedup_u")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.sql("select * from url_dedup_u").count() == 1
