"""Traced-run instrumentation, kept entirely on the benchmark's side.

* ``Tracer`` wraps public functions of the engine's layers and records
  one span per call (name, thread, start, end, parent) in memory. Self
  time is a span's duration minus the time its child spans cover.
* ``read_event_log`` turns Spark's JSON event log into per-phase task
  metrics; a job's phase is the description the benchmark set, or the
  phase whose time window contains its submission.
* ``udf_seconds`` reads the session UDF profiler (cProfile per UDF) and
  attributes each profile to the UDF whose function it contains.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time


class Tracer:
    def __init__(self, spark_context=None):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._sc = spark_context

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def last_job_id(self) -> int:
        """Id of the newest Spark job (ids are sequential), -1 if none."""
        if self._sc is None:
            return -1
        return max(self._sc.statusTracker().getJobIdsForGroup(), default=-1)

    def actions(self) -> int:
        """Spark actions (collects) this thread has started so far."""
        return getattr(self._local, "actions", 0)

    def call(self, name: str, fn, *args, count_jobs: bool = False,
             **kwargs):
        stack = self._stack()
        span = {"name": name, "thread": threading.get_ident(),
                "parent": stack[-1]["id"] if stack else None,
                "child_s": 0.0, "actions": self.actions()}
        jobs0 = self.last_job_id() if count_jobs else None
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        stack.append(span)
        span["start"] = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            span["end"] = time.perf_counter()
            span["actions"] = self.actions() - span["actions"]
            stack.pop()
            if count_jobs:
                span["jobs"] = self.last_job_id() - jobs0
            if stack:
                stack[-1]["child_s"] += span["end"] - span["start"]

    def patch(self, owner, attr: str, name: str, count_jobs: bool = False,
              after=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper; ``after(result)``
        may post-process what the call returns."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            res = tracer.call(name, orig, *args, count_jobs=count_jobs,
                              **kwargs)
            return after(res) if after is not None else res

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def instrument_engine(self) -> dict:
        """Wrap the public calls of every layer the workloads reach.
        Returns the MaxScore kernel counters, summed over calls."""
        from search_engine_spark import codec
        from search_engine_spark.operators import executor, maxscore
        from search_engine_spark.plans import planner, spellcheck
        from search_engine_spark.sources import catalog

        from pyspark.sql.classic.dataframe import DataFrame

        kernel = {"n_blocks_total": 0, "n_blocks_decoded": 0,
                  "n_ranges_skipped": 0, "calls": 0}
        tracer = self

        # a mini-index miss is the call that runs a Spark action; counting
        # collects per thread costs nothing, unlike asking the JVM for job
        # ids on every lookup
        orig_collect = DataFrame.collect

        @functools.wraps(orig_collect)
        def collect(df):
            tracer._local.actions = tracer.actions() + 1
            return orig_collect(df)

        DataFrame.collect = collect
        self._patches.append((DataFrame, "collect", orig_collect))

        self.patch(planner, "classify", "planner.classify")
        self.patch(spellcheck, "correct_query", "spellcheck.correct_query")
        self.patch(codec, "decode_block_full", "codec.decode_block_full")
        self.patch(catalog.SegmentIndex, "mini_index", "catalog.mini_index")
        for step in ("delete_docs", "build_durable_index", "merge_indexes",
                     "refresh_index"):
            self.patch(catalog, step, f"catalog.{step}")

        orig_ms = maxscore.search_maxscore

        @functools.wraps(orig_ms)
        def search_maxscore(*args, **kwargs):
            stats = kwargs.get("stats")
            if stats is None:
                stats = kwargs["stats"] = {}
            res = tracer.call("maxscore.search_maxscore", orig_ms, *args,
                              **kwargs)
            for key in ("n_blocks_total", "n_blocks_decoded",
                        "n_ranges_skipped"):
                kernel[key] += stats.get(key, 0)
            kernel["calls"] += 1
            return res

        maxscore.search_maxscore = search_maxscore
        self._patches.append((maxscore, "search_maxscore", orig_ms))

        def traced_collect(df):
            # the relational path plans in execute() and runs its Spark
            # work when the caller collects the returned frame: time both
            # under the executor's name
            collect = df.collect
            df.collect = lambda: tracer.call("executor.execute", collect,
                                             count_jobs=True)
            return df

        self.patch(executor, "execute", "executor.execute", count_jobs=True,
                   after=traced_collect)
        return kernel

    # ---------------------------------------------------------- reports

    def summary(self, window: tuple[float, float] | None = None) -> dict:
        """{name: {"n", "total_s", "self_s", "jobs"}} over spans that
        started inside ``window`` (all spans when None)."""
        out: dict[str, dict] = {}
        for s in self.spans:
            if window and not window[0] <= s["start"] <= window[1]:
                continue
            d = out.setdefault(s["name"], {"n": 0, "total_s": 0.0,
                                           "self_s": 0.0, "jobs": 0})
            dur = s["end"] - s["start"]
            d["n"] += 1
            d["total_s"] += dur
            d["self_s"] += dur - s["child_s"]
            d["jobs"] += s.get("jobs", 0)
        return out

    def top_level_s(self, window: tuple[float, float]) -> float:
        """Summed duration of root spans started inside ``window``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] is None
                   and window[0] <= s["start"] <= window[1])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ------------------------------------------------------------ event log

SPARK_FIELDS = ("executor_cpu_s", "gc_s", "shuffle_write_bytes",
                "spill_bytes", "shuffle_fetch_wait_s", "tasks", "jobs")


def read_event_log(log_dir: str, windows: dict[str, tuple[float, float]],
                   prefix: str) -> dict[str, dict]:
    """Per-phase task metrics from the (uncompressed) event log in
    ``log_dir``. ``windows`` maps phase → (start, end) in epoch seconds;
    a job whose description is ``prefix + phase`` belongs to that phase,
    an undescribed job to the phase whose window holds its submission."""
    out = {p: dict.fromkeys(SPARK_FIELDS, 0.0) for p in windows}
    stage_phase: dict[int, str] = {}
    # Spark 4 writes rolling logs: eventlog_v2_<app>/events_<n>_<app>
    files = [os.path.join(d, f) for d, _, fs in os.walk(log_dir)
             for f in fs if f.startswith("events_")]
    for path in sorted(files, key=lambda p: int(
            os.path.basename(p).split("_")[1])):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description") or ""
                    phase = None
                    if desc.startswith(prefix) and desc[len(prefix):] in out:
                        phase = desc[len(prefix):]
                    else:
                        t = ev["Submission Time"] / 1000.0
                        phase = next((p for p, (a, b) in windows.items()
                                      if a <= t <= b), None)
                    if phase is None:
                        continue
                    out[phase]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_phase[sid] = phase
                elif kind == "SparkListenerTaskEnd":
                    phase = stage_phase.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if phase is None or not m:
                        continue
                    o = out[phase]
                    o["tasks"] += 1
                    o["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    o["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    o["shuffle_write_bytes"] += sw.get(
                        "Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    o["shuffle_fetch_wait_s"] += sr.get(
                        "Fetch Wait Time", 0) / 1e3
    return out


# --------------------------------------------------------- UDF profiler

#: (file, function) the profiler records → layer metric
UDF_FUNCTIONS = {
    ("analyzer.py", "extract_udf"): "analyzer.extract_udf_s",
    ("postings.py", "doc_postings_udf"): "postings.doc_postings_udf_s",
    ("segments.py", "encode_stream"): "segments.encode_sorted_s",
}


def udf_seconds(spark, dump_dir: str) -> dict[str, float]:
    """Python seconds per UDF from the session's perf profiler, whose
    profiles are dumped (one pstats file per evaluated UDF chain) into
    ``dump_dir``. Spark evaluates a UDF that consumes another UDF's
    output as one chain with one profile, so each UDF's time is the
    cumulative time of its own function inside the profiles."""
    import pstats

    out = dict.fromkeys(UDF_FUNCTIONS.values(), 0.0)
    spark.profile.dump(dump_dir, type="perf")
    if not os.path.isdir(dump_dir):
        return out
    for name in sorted(os.listdir(dump_dir)):
        stats = pstats.Stats(os.path.join(dump_dir, name))
        for (file, _line, fn), row in stats.stats.items():
            metric = UDF_FUNCTIONS.get((file, fn))
            if metric is not None:
                out[metric] += row[3]  # cumulative seconds
    return out
