"""The benchmark command.

    python3 perfbench/run.py --workload ingest|serve_hot|serve_cold \
        --seed N --seconds S --trace 0|1

Run from the repository root. Spark runs at local[4]. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``). The line
before it carries the run's context: the host's load and steal, CPU
next to wall time, the tail percentile and its sample count, and the
end-to-end figures under their per-workload names (``build_docs_per_s``,
``query_p50_ms``, ``saturation_qps``, ``error_rate``, ...).

Workloads (why each exists is in BENCHMARK.json):

* ``ingest``: a durable index build over a seeded web corpus, read
  through the extract UDF exactly as ``jobs/build_index.py --html``
  does. The traced run then absorbs a re-crawl batch with
  ``catalog.refresh_index``.
* ``serve_hot`` / ``serve_cold``: HTTP ``/results`` against
  ``jobs/serve.py``'s server with spellcheck on, over an index built once
  per checkout from a fixed corpus (see ``serving_index``). An open loop
  at a fixed rate, then a closed loop with 4 connections, both driven by
  ``perfbench/loadgen.py`` in its own process. ``serve_hot`` draws head
  words that stay in the mini-index LRU; ``serve_cold`` draws tail words
  that miss it, plus 10% phrase and boolean queries. ``serve_cold`` is
  not in BENCHMARK.json (a run takes about a minute and holds too few
  requests for steady percentiles within the benchmark's time budget);
  it runs the same way when named.

Workload settings (rates, sizes, latency limits) are in ``spec.json``,
with what each shared metric name means on each workload.

Every run checks its outputs: build and refresh counts against the
oracle in ``tests/oracle.py``; every response a 200 on the path its
query kind predicts; a fixed sample of ranked answers identical to the
oracle's. Generated inputs and the serving index are cached under
``.perfbench_cache/``; each run's scratch directory is removed when it
ends; traced runs leave their spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import functools  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pickle  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import urllib.parse  # noqa: E402
import urllib.request  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
RUNS = os.path.join(ROOT, ".perfbench_run")
OUT = os.path.join(ROOT, ".perfbench_out")
JOB_PREFIX = "perfbench:"
PROGRAM_FILES = ("search_engine_spark/__init__.py", "jobs/serve.py",
                 "tests/oracle.py")

with open(os.path.join(HERE, "spec.json")) as _f:
    SPEC = json.load(_f)


# ------------------------------------------------------------ plumbing

def spark_session(run_dir: str, app: str, event_log_dir: str | None = None):
    """The engine's own ``get_spark`` session, with every file Spark and
    its workers write kept under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(path),
        "SPARK_GRAFT_CPUS": str(SPEC["spark"]["cpus"]),
        "SPARK_GRAFT_DRIVER_MEM": SPEC["spark"]["driver_mem"],
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
    })
    tempfile.tempdir = None
    submit = ["--driver-java-options",
              shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")]
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        for k, v in (("spark.eventLog.enabled", "true"),
                     ("spark.eventLog.dir", "file://" + event_log_dir),
                     ("spark.eventLog.compress", "false")):
            submit += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    os.chdir(run_dir)  # anything Spark drops in its working directory
    from search_engine_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM PySpark started for it, and wait for
    the JVM to exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def web_docs(spark, path: str):
    """input_hint parquet → documents with dense ids and extracted text,
    the pipeline of ``jobs/build_index.py --html``."""
    from pyspark.sql import functions as F

    from search_engine_spark.functions.analyzer import make_extract_text_udf
    from search_engine_spark.sources import corpus

    docs = corpus.ingest_filters(corpus.with_dense_doc_ids(
        spark.read.parquet(path)))
    return docs.withColumn(
        "text", make_extract_text_udf()(F.col("html"))).drop("html")


def extracted(spark, path: str):
    from pyspark.sql import functions as F

    from search_engine_spark.functions.analyzer import make_extract_text_udf

    return spark.read.parquet(path).withColumn(
        "text", make_extract_text_udf()(F.col("html"))).drop("html")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def segments_row(index_dir: str) -> dict:
    from search_engine_spark.sources import catalog

    return next(r for r in catalog.lineage_rows(index_dir)
                if r["step"] == "segments")


def index_n_docs(index_dir: str) -> int:
    with open(os.path.join(index_dir, "stats.json")) as f:
        return json.load(f)["n_docs"]


@contextlib.contextmanager
def memoized_stems():
    """The oracle analyzes whole corpora with the engine's own analyzer;
    caching the pure Porter function makes that cheap. Used only after
    every timed phase of a run."""
    from search_engine_spark.functions import porter

    orig = porter.stem
    porter.stem = functools.lru_cache(maxsize=None)(orig)
    try:
        yield
    finally:
        porter.stem = orig


def oracle_counts(texts: list[str]) -> tuple[int, int]:
    """(n_docs, postings) of the oracle index over ``texts``."""
    from tests import oracle

    with memoized_stems():
        index, sizes = oracle.build_index(dict(enumerate(texts, 1)))
    return len(sizes), sum(len(e[1]) for e in index.values())


def source_hash() -> str:
    """Digest of what the serving index and its oracle derive from: the
    engine package, the oracle, the corpus generator and the serving
    corpus settings."""
    h = hashlib.sha256(json.dumps(SPEC["serving_index"]).encode())
    files = [os.path.join(ROOT, "tests", "oracle.py"),
             os.path.join(HERE, "corpus.py")]
    for d, _, fs in os.walk(os.path.join(ROOT, "search_engine_spark")):
        files += [os.path.join(d, f) for f in fs
                  if f.endswith((".py", ".txt"))]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the maximum when there are ten samples or fewer."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def setup_parts(marks: dict, inputs_s: float) -> dict:
    """Set-up time split at the marks (name → perf_counter time, in
    order): each part is the time since the previous mark; ``imports``
    is the time before the first mark, less input generation."""
    out, prev = {}, T_START + inputs_s
    for name, t in marks.items():
        out[name] = t - prev
        prev = t
    return out


def host_before() -> dict:
    from perfbench import host

    return {"load1": host.load1(), "cpu": host.cpu_times()}


def host_after(before: dict) -> dict:
    from perfbench import host

    return {"load1_start": before["load1"], "load1_end": host.load1(),
            "steal_pct": host.steal_pct(before["cpu"], host.cpu_times())}


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def benchmark_metrics() -> dict:
    """{"end_to_end": {name: unit}, "per_layer": {name: unit}} as
    declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {k: {m["name"]: m["unit"] for m in b[k]}
            for k in ("end_to_end", "per_layer")}


# ------------------------------------------------------ serving index

def serving_index() -> str:
    """Directory holding the served index, built once per checkout (per
    engine source digest) in a separate process: the serving runs then
    pay no build, and the build's memory never counts toward their
    peak."""
    cfg = SPEC["serving_index"]
    d = os.path.join(CACHE, f"serve-{cfg['corpus_seed']}-{cfg['docs']}-"
                            f"{source_hash()}")
    if not os.path.exists(os.path.join(d, "done.json")):
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--prepare-serving", d],
                       check=True, stdout=sys.stderr, cwd=ROOT)
    return d


def prepare_serving(d: str) -> None:
    from perfbench import corpus
    from search_engine_spark.sources import catalog
    from tests import oracle

    cfg = SPEC["serving_index"]
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    corp, paths = corpus.materialize(CACHE, cfg["corpus_seed"], cfg["docs"])
    run_dir = os.path.join(tmp, "run")
    os.makedirs(run_dir)
    spark = spark_session(run_dir, "perfbench-prepare")
    docs = web_docs(spark, paths["docs"])
    catalog.build_durable_index(spark, docs, os.path.join(tmp, "index"))
    ids = {r["doc_id"]: r["url"]
           for r in docs.select("doc_id", "url").collect()}
    stop_spark(spark)
    text = {doc["url"]: doc["text"] for doc in corp.docs}
    with memoized_stems():
        oindex = oracle.build_index({i: text[u] for i, u in ids.items()})
    with open(os.path.join(tmp, "oracle.pkl"), "wb") as f:
        pickle.dump(oindex, f, protocol=pickle.HIGHEST_PROTOCOL)
    with open(os.path.join(tmp, "facts.json"), "w") as f:
        json.dump(corp.facts(), f)
    input_bytes = sum(len(doc["text"].encode()) for doc in corp.docs)
    with open(os.path.join(tmp, "done.json"), "w") as f:
        json.dump({"docs": cfg["docs"], "input_text_bytes": input_bytes}, f)
    os.chdir(ROOT)
    shutil.rmtree(run_dir)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)


# --------------------------------------------------------- workloads

class Run:
    """State shared by the workloads: arguments, scratch directory and,
    in traced runs, the tracer and the MaxScore kernel counters."""

    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.dir = os.path.join(RUNS, f"{args.workload}-{os.getpid()}")
        self.event_dir = (os.path.join(self.dir, "events")
                          if self.trace else None)
        self.tracer = None
        self.kernel: dict = {}

    def start(self, app: str):
        spark = spark_session(self.dir, app, self.event_dir)
        if self.trace:
            from perfbench.trace import Tracer

            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            self.tracer = Tracer(spark.sparkContext)
            self.kernel = self.tracer.instrument_engine()
        return spark

    def finish_trace(self, spark, windows: dict, per_req: int,
                     measured: tuple[float, float]) -> dict:
        """Per-layer metrics of a traced run; stops ``spark``."""
        from perfbench import trace as T

        udf = T.udf_seconds(spark, os.path.join(self.dir, "profiles"))
        stop_spark(spark)
        self.tracer.restore()
        out = {k: metric(v, "s") for k, v in udf.items()}
        phases = T.read_event_log(self.event_dir, windows, JOB_PREFIX)
        units = {"executor_cpu_s": "s", "gc_s": "s",
                 "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
                 "shuffle_fetch_wait_s": "s", "tasks": "count",
                 "jobs": "count"}
        for phase in ("build", "refresh", "serve"):
            got = phases.get(phase, dict.fromkeys(T.SPARK_FIELDS, 0.0))
            for field in T.SPARK_FIELDS:
                out[f"spark.{phase}.{field}"] = metric(got[field],
                                                       units[field])
        s = self.tracer.summary(measured)
        n = max(per_req, 1)

        def per(name, key="self_s", scale=1000.0):
            return s.get(name, {}).get(key, 0.0) * scale / n

        ms = [x for x in self.tracer.spans if x["name"] == "catalog.mini_index"
              and measured[0] <= x["start"] <= measured[1]]
        k = self.kernel
        out.update({
            "planner.classify_ms": metric(per("planner.classify"), "ms/req"),
            "spellcheck.correct_query_ms": metric(
                per("spellcheck.correct_query"), "ms/req"),
            "codec.decode_block_full_ms": metric(
                per("codec.decode_block_full"), "ms/req"),
            "codec.blocks_decoded": metric(
                per("codec.decode_block_full", "n", 1.0), "blocks/req"),
            "maxscore.self_ms": metric(per("maxscore.search_maxscore"),
                                       "ms/req"),
            "maxscore.blocks_decoded_ratio": metric(
                k["n_blocks_decoded"] / k["n_blocks_total"]
                if k.get("n_blocks_total") else 0.0, "ratio"),
            "maxscore.ranges_skipped": metric(k.get("n_ranges_skipped", 0),
                                              "count"),
            "catalog.mini_index_ms": metric(per("catalog.mini_index"),
                                            "ms/req"),
            "catalog.mini_index_miss_ratio": metric(
                sum(1 for x in ms if x["actions"] > 0) / len(ms)
                if ms else 0.0,
                "ratio"),
            "executor.execute_ms": metric(per("executor.execute"), "ms/req"),
            "executor.spark_jobs": metric(
                per("executor.execute", "jobs", 1.0), "jobs/req"),
            "trace.spans": metric(len(self.tracer.spans), "count"),
        })
        os.makedirs(OUT, exist_ok=True)
        self.tracer.dump(os.path.join(
            OUT, f"spans-{self.args.workload}-{self.args.seed}.jsonl"))
        return out


def run_ingest(run: Run) -> tuple:
    from perfbench import corpus, host

    args = run.args
    t_in = time.perf_counter()
    corp, paths = corpus.materialize(CACHE, args.seed, SPEC["ingest"]["docs"])
    input_bytes = sum(len(d["text"].encode()) for d in corp.docs)
    inputs_s = time.perf_counter() - t_in
    h0 = host_before()
    pid = os.getpid()
    with host.PeakMemory(pid) as rss:
        spark = run.start("perfbench-ingest")
        sc = spark.sparkContext
        from search_engine_spark.sources import catalog

        index_dir = os.path.join(run.dir, "index")
        t0 = time.perf_counter()
        setup_s = t0 - T_START - inputs_s
        cpu0, w0 = host.tree_cpu_s(pid), time.time()
        sc.setJobDescription(JOB_PREFIX + "build")
        docs = web_docs(spark, paths["docs"])
        catalog.build_durable_index(spark, docs, index_dir)
        build_s = time.perf_counter() - t0
        cpu_s, w1 = host.tree_cpu_s(pid) - cpu0, time.time()
        sc.setJobDescription(None)
        windows = {"build": (w0, w1)}
        index_bytes = dir_bytes(index_dir)
        seg = segments_row(index_dir)
        built = (index_n_docs(index_dir), seg["postings"])
        refresh = None
        if run.trace:
            sc.setJobDescription(JOB_PREFIX + "refresh")
            r0, t1 = time.time(), time.perf_counter()
            out_dir = os.path.join(run.dir, "refreshed")
            catalog.refresh_index(spark, index_dir, docs,
                                  extracted(spark, paths["recrawl"]), out_dir)
            refresh = (time.perf_counter() - t1,
                       (index_n_docs(out_dir),
                        segments_row(out_dir)["postings"]))
            windows["refresh"] = (r0, time.time())
            sc.setJobDescription(None)
        per_layer = None
        if run.trace:
            # the whole run: a serving-layer call anywhere would show
            per_layer = run.finish_trace(spark, windows, 1,
                                         (0.0, float("inf")))
        else:
            stop_spark(spark)
    ctx = host_after(h0)

    # correctness: the built (and refreshed) index against the oracle
    checks = {"build": built == oracle_counts([d["text"] for d in corp.docs])}
    if refresh is not None:
        refetched = {d["url"] for d in corp.recrawl}
        live = [d["text"] for d in corp.docs if d["url"] not in refetched]
        live += [d["text"] for d in corp.recrawl]
        checks["refresh"] = refresh[1] == oracle_counts(live)
    failed = sum(1 for ok in checks.values() if not ok)
    n_docs = len(corp.docs)
    e2e = {
        "setup_s": metric(setup_s, "s"),
        "peak_rss_mb": metric(rss.peak / 2**20, "MiB"),
        "cpu_ms_per_item": metric(cpu_s * 1000 / n_docs, "ms"),
        "index_bytes_per_input_byte": metric(index_bytes / input_bytes,
                                             "ratio"),
    }
    ctx.update({
        "wall_s": build_s, "cpu_s": cpu_s, "ops": list(checks),
        "named": {
            "setup_s": setup_s, "peak_rss_mb": rss.peak / 2**20,
            "build_docs_per_s": n_docs / build_s, "build_cpu_s": cpu_s,
            "refresh_s": refresh[0] if refresh else None,
            "index_bytes_per_input_byte": index_bytes / input_bytes,
            "error_rate": failed / len(checks),
        },
    })
    if per_layer is not None:
        seg_steps = {r["step"]: r for r in catalog.lineage_rows(index_dir)}
        for step in ("postings_stage", "segments", "doc_stats", "term_stats",
                     "vsm_norms"):
            per_layer[f"catalog.{step}_s"] = metric(
                seg_steps[step]["duration_sec"], "s")
        # the refresh span and its direct children (merge_indexes calls
        # build_durable_index again; that nested build is merge time)
        top = next((x for x in run.tracer.spans
                    if x["name"] == "catalog.refresh_index"), None)
        for step in ("refresh_index", "delete_docs", "build_durable_index",
                     "merge_indexes"):
            per_layer[f"catalog.{step}_s"] = metric(sum(
                x["end"] - x["start"] for x in run.tracer.spans
                if top is not None and x["name"] == f"catalog.{step}"
                and (x is top or x["parent"] == top["id"])), "s")
        per_layer["trace.op_p50_ms"] = metric(build_s * 1000, "ms")
    result = {"attempted": len(checks), "failed": failed, "seg": seg}
    return e2e, per_layer, ctx, result


def run_serve(run: Run, kind: str) -> tuple:
    from perfbench import corpus, host
    from tests import oracle

    args, cfg = run.args, SPEC[kind]
    t_in = time.perf_counter()
    sdir = serving_index()
    with open(os.path.join(sdir, "facts.json")) as f:
        facts = json.load(f)
    with open(os.path.join(sdir, "done.json")) as f:
        input_bytes = json.load(f)["input_text_bytes"]
    # both loops are sized in requests from the spec's rates, so every
    # run does the same work; at those rates they take about --seconds
    open_s = args.seconds * SPEC["open_share"]
    n_open = max(1, round(cfg["open_rate_per_s"] * open_s))
    n_closed = max(1, round(cfg["closed_rate_per_s"]
                            * (args.seconds - open_s)))
    n_warm = cfg["warmup_queries"]
    gen = corpus.hot_queries if kind == "serve_hot" else corpus.cold_queries
    queries = gen(facts, args.seed, n_warm + n_open + n_closed)
    warm, measured_q = queries[:n_warm], queries[n_warm:n_warm + n_open]
    closed_q = queries[n_warm + n_open:]
    inputs_s = time.perf_counter() - t_in
    h0 = host_before()
    pid = os.getpid()
    with host.PeakMemory(pid) as rss:
        parts = {"imports": time.perf_counter()}
        spark = run.start(f"perfbench-{kind}")
        parts["session"] = time.perf_counter()
        from search_engine_spark.plans.spellcheck import VocabularySpellchecker
        from search_engine_spark.sources import catalog

        sys.path.insert(0, os.path.join(ROOT, "jobs"))
        import serve as serve_job

        idx = catalog.load_index(spark, os.path.join(sdir, "index"))
        parts["load_index"] = time.perf_counter()
        checker = VocabularySpellchecker.from_index(idx)
        parts["spellchecker"] = time.perf_counter()
        srv = serve_job.create_server(idx, 0, spellchecker=checker)
        port = srv.server_address[1]
        th = threading.Thread(target=srv.serve_forever, daemon=True)
        th.start()
        parts["server"] = time.perf_counter()
        try:
            warm_up(port, kind, facts, warm)
            parts["warm_up"] = time.perf_counter()
            host.settle(pid)
            t0 = time.perf_counter()
            parts["settle"] = t0
            setup_s = t0 - T_START - inputs_s
            cpu0, w0 = host.tree_cpu_s(pid), time.time()
            for key in run.kernel:
                run.kernel[key] = 0
            spec_path = os.path.join(run.dir, "load.json")
            out_path = os.path.join(run.dir, "load-out.json")
            with open(spec_path, "w") as f:
                json.dump({
                    "port": port, "conns": SPEC["connections"],
                    "sample_every": SPEC["oracle_sample_every"],
                    "timeout_s": 60,
                    "open": {"queries": measured_q,
                             "rate": cfg["open_rate_per_s"],
                             "give_up_s": 3 * open_s + 10},
                    "closed": {"queries": closed_q},
                }, f)
            gen_p = subprocess.Popen([sys.executable,
                                      os.path.join(HERE, "loadgen.py"),
                                      spec_path, out_path])
            rss.exclude.add(gen_p.pid)
            try:
                gen_p.wait(timeout=6 * args.seconds + 120)
            except subprocess.TimeoutExpired:
                gen_p.kill()
                gen_p.wait()
                raise
            t1 = time.perf_counter()
            cpu_s, w1 = host.tree_cpu_s(pid), time.time()
            cpu_s -= cpu0
        finally:
            srv.shutdown()
            srv.server_close()
        if gen_p.returncode != 0:
            raise RuntimeError(f"load generator exited {gen_p.returncode}")
        with open(out_path) as f:
            load = json.load(f)
        per_layer = None
        n_ok = sum(1 for r in load["open"] + load["closed"]
                   if r["status"] == 200)
        if run.trace:
            windows = {"serve": (w0, w1)}
            retrieval = sum(r["retrieval_time"] or 0.0
                            for r in load["open"] + load["closed"])
            covered = run.tracer.top_level_s((t0, t1))
            per_layer = run.finish_trace(spark, windows, n_ok, (t0, t1))
            per_layer["serve.wait_ms"] = metric(
                max(retrieval - covered, 0.0) * 1000 / max(n_ok, 1),
                "ms/req")
        else:
            stop_spark(spark)
    ctx = host_after(h0)

    # correctness: status, path and sampled rankings against the oracle
    with open(os.path.join(sdir, "oracle.pkl"), "rb") as f:
        oindex, sizes = pickle.load(f)
    want_path = {"free": "maxscore", "phrase": "relational",
                 "boolean": "relational"}
    why = {"status": 0, "path": 0, "ranking": 0}
    for r in load["open"] + load["closed"]:
        if r["status"] != 200:
            why["status"] += 1
        elif r["path"] != want_path[r["kind"]]:
            why["path"] += 1
        elif "results" in r and not same_ranking(
                r["results"], oracle.execute(oindex, sizes, r["executed"])):
            why["ranking"] += 1
    failed = sum(why.values())
    attempted = len(load["open"]) + len(load["closed"])
    lat = [(r["done"] - r["due"]) * 1000 if r["status"] == 200
           else float("inf") for r in load["open"]]
    t_val, t_pct, t_n = tail(lat)
    rates = chunk_rates(load["closed"], load["closed_start"])
    qps = statistics.median(rates)
    seg = segments_row(os.path.join(sdir, "index"))
    index_bytes = dir_bytes(os.path.join(sdir, "index"))
    p50 = statistics.median(lat)
    late = [(r["sent"] - r["due"]) * 1000 for r in load["open"]]
    limit = cfg["latency_limit_ms"]
    e2e = {
        "setup_s": metric(setup_s, "s"),
        "peak_rss_mb": metric(rss.peak / 2**20, "MiB"),
        "cpu_ms_per_item": metric(cpu_s * 1000 / max(n_ok, 1), "ms"),
        "index_bytes_per_input_byte": metric(index_bytes / input_bytes,
                                             "ratio"),
    }
    ctx.update({
        "wall_s": t1 - t0, "cpu_s": cpu_s,
        "setup_parts_s": setup_parts(parts, inputs_s),
        "tail_percentile": t_pct, "tail_n": t_n,
        "open_requests": len(load["open"]),
        "closed_requests": len(load["closed"]),
        "closed_chunk_rates": [round(x, 1) for x in rates],
        "failures": why,
        "generator_late_ms": {"p50": statistics.median(late),
                              "max": max(late)},
        "latency_limit_ms": limit,
        "within_limit": sum(1 for x in lat if x <= limit) / len(lat),
        "named": {
            "setup_s": setup_s, "peak_rss_mb": rss.peak / 2**20,
            "query_p50_ms": p50, "query_tail_ms": t_val,
            "saturation_qps": qps, "error_rate": failed / attempted,
        },
    })
    if per_layer is not None:
        per_layer["trace.op_p50_ms"] = metric(p50, "ms")
    result = {"attempted": attempted, "failed": failed, "seg": seg}
    return e2e, per_layer, ctx, result


def warm_up(port: int, kind: str, facts: dict, warm: list[dict]) -> None:
    """Fill the mini-index LRU with the hot working set (serve_hot) and
    run each query kind once, so measured requests start warm."""
    from perfbench import corpus

    qs = [q["q"] for q in warm]
    if kind == "serve_hot":
        head = facts["vocab"][:corpus.HEAD_WORDS]
        qs = [" ".join(head[i:i + 150])
              for i in range(0, len(head), 150)] + qs
    else:
        (a, b), (c, d) = facts["pairs"][:2]
        qs += [f'"{a} {b}"', f"{c} AND {d}"]
    for q in qs:
        url = (f"http://127.0.0.1:{port}/results?"
               + urllib.parse.urlencode({"query": q}))
        with urllib.request.urlopen(url, timeout=120) as r:
            r.read()


def chunk_rates(closed: list[dict], start: float, chunks: int = 5
                ) -> list[float]:
    """Completions per second in the closed loop over ``chunks``
    consecutive equal runs of completions; failed requests do not
    count. The median of these is the saturation rate, so one stall of
    the host does not set the figure."""
    done = sorted(r["done"] for r in closed if r["status"] == 200)
    size = len(done) // chunks
    if size == 0:
        return [len(done) / (done[-1] - start)] if done else [0.0]
    rates, prev = [], start
    for i in range(chunks):
        end = done[(i + 1) * size - 1]
        rates.append(size / (end - prev))
        prev = end
    return rates


def same_ranking(got: list, want: list, rel: float = 1e-9) -> bool:
    """Rank-identical up to floating-point ties: the same documents in
    the same order, scores equal within ``rel``; documents whose scores
    tie may appear in either order."""
    if len(got) != len(want):
        return False
    for (gd, gs), (wd, ws) in zip(got, want):
        if abs(gs - ws) > rel * max(1.0, abs(ws)):
            return False
    key = lambda r: (-round(r[1], 9), r[0])  # noqa: E731
    return [d for d, _ in sorted(got, key=key)] == \
        [d for d, _ in sorted(want, key=key)]


# ------------------------------------------------------------- main

def main() -> int:
    if len(sys.argv) == 3 and sys.argv[1] == "--prepare-serving":
        sys.path.insert(0, ROOT)
        prepare_serving(sys.argv[2])
        return 0
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "serve_hot", "serve_cold"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in PROGRAM_FILES
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not here (missing {missing}); "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run = Run(args)
    os.makedirs(run.dir)
    try:
        if args.workload == "ingest":
            e2e, per_layer, ctx, res = run_ingest(run)
        else:
            e2e, per_layer, ctx, res = run_serve(run, args.workload)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run.dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(RUNS)
    declared = benchmark_metrics()
    if per_layer is not None:
        per_layer.update({
            "host.load1": metric(ctx["load1_end"], "load"),
            "host.steal_pct": metric(ctx["steal_pct"], "%"),
            "catalog.postings": metric(res["seg"]["postings"], "count"),
            "catalog.blocks": metric(res["seg"]["blocks"], "count"),
            "catalog.payload_bytes": metric(res["seg"]["payload_bytes"],
                                            "bytes"),
        })
        for name, unit in declared["per_layer"].items():
            per_layer.setdefault(name, metric(0, unit))
    metrics = per_layer if args.trace else e2e
    want = declared["per_layer" if args.trace else "end_to_end"]
    if set(metrics) != set(want):
        raise RuntimeError("metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(want))}")
    ctx["workload"], ctx["seed"], ctx["trace"] = (args.workload, args.seed,
                                                  args.trace)
    print(json.dumps({"context": ctx}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
