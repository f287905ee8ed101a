"""North-rule shipping form: the jobs run via
``spark-submit --py-files dist/engine.zip`` with the engine imported
FROM THE ZIP — the job scripts are copied to a neutral directory so the
repo checkout is not importable and only the zip can satisfy
``search_engine_spark``."""

import json
import os
import shutil
import subprocess

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


def _query_topk_usage_error(*flags: str) -> subprocess.CompletedProcess:
    """Run jobs/query_topk.py with flags its argument checks refuse —
    they fire before any Spark startup, so plain python suffices."""
    import sys

    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", "query_topk.py"),
         "--index", "/nonexistent", "--query", "x", *flags],
        capture_output=True, text=True, timeout=60,
    )


def test_wand_rejects_date_flags():
    """--kernel maxscore + date range must error up front (the kernel
    ranks over ALL blocks; a silent post-filter would return wrong-rank
    results)."""
    p = _query_topk_usage_error("--kernel", "maxscore",
                                "--date-start", "2022-01-01",
                                "--date-end", "2022-01-31")
    assert p.returncode == 2
    assert "--kernel maxscore does not support" in p.stderr


@pytest.mark.parametrize("model", ["vsm", "lm-dirichlet"])
def test_kernel_rejects_non_bm25_model(model):
    """The kernel scores BM25 only: --kernel maxscore with another model
    is a usage error, not BM25 hits printed under the model's name."""
    p = _query_topk_usage_error("--kernel", "maxscore", "--model", model)
    assert p.returncode == 2
    assert "BM25 only" in p.stderr


def test_build_with_partitioned_document_store(tmp_path, spark):
    """--write-documents: the build job also lays down the days(warc_ts)
    partitioned doc store, builds the index FROM it, and a date-filtered
    query against that store returns only in-range docs."""
    import sys

    from pyspark.sql import functions as F

    from search_engine_spark.sources import corpus

    src = str(tmp_path / "web_src")
    corpus.synthesize_web_corpus(spark, 300).write.parquet(src)
    idx, store = str(tmp_path / "idx"), str(tmp_path / "docs_by_date")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4",
           "SPARK_GRAFT_DRIVER_MEM": "4g"}
    b = subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", "build_index.py"),
         "--input", src, "--output", idx, "--html",
         "--write-documents", store,
         "--buckets", "8", "--block-span", "4096"],
        capture_output=True, text=True, timeout=420, env=env,
    )
    assert b.returncode == 0, b.stderr[-3000:]
    assert any(d.startswith("warc_date=") for d in os.listdir(store))

    q = subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", "query_topk.py"),
         "--index", idx, "--query", "market", "--k", "50",
         "--documents", store,
         "--date-start", "2022-01-03", "--date-end", "2022-01-06"],
        capture_output=True, text=True, timeout=420, env=env,
    )
    assert q.returncode == 0, q.stderr[-3000:]
    hits = [json.loads(line) for line in q.stdout.splitlines()
            if line.startswith("{")]
    docs = spark.read.parquet(store)
    in_range = {r.doc_id for r in docs.filter(
        F.col("warc_date").between("2022-01-03", "2022-01-06")).collect()}
    assert hits and all(h["doc_id"] in in_range for h in hits)


def test_curate_corpus_job_output_is_plain_parquet(tmp_path, spark):
    """The curation job's output dir must stay directly readable as
    parquet (the funnel sidecar rides as '_funnel.json', which Spark's
    file listing skips), and sloppy --languages input (' EN ,fr')
    normalizes instead of filtering everything out."""
    import sys

    out = str(tmp_path / "curated")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4",
           "SPARK_GRAFT_DRIVER_MEM": "4g"}
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", "curate_corpus.py"),
         "--input", "/root/testdata/sf0.001/documents.parquet",
         "--output", out, "--languages", " EN ,fr",
         "--min-tokens", "5", "--max-tokens", "100000"],
        capture_output=True, text=True, timeout=420, env=env,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    curated = spark.read.parquet(out)  # sidecar must not break this
    assert curated.count() > 0
    with open(os.path.join(out, "_funnel.json")) as f:
        funnel = json.load(f)
    stages = [s["stage"] for s in funnel]
    assert stages[0] == "input" and "exact_dedup" in stages


def test_curate_corpus_job_prep_flags(tmp_path, spark):
    """The training-data prep flags compose: --pii-scrub rewrites text
    in place, the repetition filter and mixture stages appear in the
    funnel, and --splits adds the deterministic split column."""
    import sys

    out = str(tmp_path / "curated2")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4",
           "SPARK_GRAFT_DRIVER_MEM": "4g"}
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", "curate_corpus.py"),
         "--input", "/root/testdata/sf0.001/documents.parquet",
         "--output", out, "--languages", "", "--min-tokens", "1",
         "--pii-scrub", "--max-dup-line-ratio", "0.9",
         "--mixture", "src0:0.5,src1:0.5",
         "--splits", "train:0.9,val:0.1"],
        capture_output=True, text=True, timeout=420, env=env,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    curated = spark.read.parquet(out)
    assert set(curated.columns) >= {"doc_id", "text", "source", "split"}
    rows = curated.collect()
    assert rows
    assert {r["source"] for r in rows} <= {"src0", "src1"}
    assert {r["split"] for r in rows} <= {"train", "val"}
    with open(os.path.join(out, "_funnel.json")) as f:
        stages = [s["stage"] for s in json.load(f)]
    assert "repetition" in stages and "mixture" in stages


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT),
                    reason="spark-submit not installed")
def test_jobs_ship_via_py_files(tmp_path):
    subprocess.run(["sh", os.path.join(ROOT, "scripts", "make_dist.sh")],
                   check=True, capture_output=True)
    zip_path = os.path.join(ROOT, "dist", "engine.zip")
    assert os.path.exists(zip_path)

    neutral = tmp_path / "neutral"
    neutral.mkdir()
    for job in ("build_index.py", "query_topk.py"):
        shutil.copy(os.path.join(ROOT, "jobs", job), neutral / job)

    idx = str(tmp_path / "idx")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4",
           "SPARK_GRAFT_DRIVER_MEM": "4g"}
    common = [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path]

    b = subprocess.run(
        common + [str(neutral / "build_index.py"),
                  "--input", "/root/testdata/sf0.001/documents.parquet",
                  "--output", idx, "--buckets", "8",
                  "--block-span", "4096"],
        cwd=str(neutral), env=env, capture_output=True, text=True,
        timeout=420,
    )
    assert b.returncode == 0, b.stderr[-3000:]
    assert os.path.exists(os.path.join(idx, "manifest", "build_complete.json"))

    q = subprocess.run(
        common + [str(neutral / "query_topk.py"), "--index", idx,
                  "--query", "system query", "--k", "5",
                  "--kernel", "maxscore"],
        cwd=str(neutral), env=env, capture_output=True, text=True,
        timeout=420,
    )
    assert q.returncode == 0, q.stderr[-3000:]
    hits = [json.loads(line) for line in q.stdout.splitlines()
            if line.startswith("{")]
    assert hits and all({"rank", "doc_id", "score"} <= set(h) for h in hits)


def test_train_tokenizer_job_roundtrip(tmp_path):
    """jobs/train_tokenizer.py writes merges.json + applied counts, and
    load_merges round-trips into bpe_token_count's input shape with the
    same results as an in-process train."""
    import sys

    out = str(tmp_path / "tok")
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", "train_tokenizer.py"),
         "--documents", "/root/testdata/sf0.001/documents.parquet",
         "--out", out, "--n-merges", "25", "--max-words", "5000",
         "--apply", str(tmp_path / "counts")],
        capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    lines = [json.loads(x) for x in p.stdout.strip().splitlines()
             if x.startswith("{")]
    assert lines[0]["n_merges"] == 25
    assert lines[0]["dropped_mass"] == 0.0

    sys.path.insert(0, ROOT)
    from jobs.train_tokenizer import load_merges

    merges = load_merges(os.path.join(out, "merges.json"))
    assert len(merges) == 25
    assert all(isinstance(m, tuple) and len(m) == 2 for m in merges)
    with open(os.path.join(out, "merges.json")) as f:
        assert json.load(f)["n_docs"] == 500
    import duckdb

    n, = duckdb.sql(
        f"SELECT count(*) FROM '{tmp_path}/counts/*.parquet'").fetchone()
    assert n == 500


def test_curate_corpus_job_gopher_c4_flags(tmp_path, spark):
    """--gopher and --c4-min-kept-lines appear as funnel stages (the
    no-punct variant keeps the synthetic corpus's single-line docs in
    play for the word-count rule)."""
    import sys

    out = str(tmp_path / "curated3")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4",
           "SPARK_GRAFT_DRIVER_MEM": "4g"}
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", "curate_corpus.py"),
         "--input", "/root/testdata/sf0.001/documents.parquet",
         "--output", out, "--languages", "", "--min-tokens", "1",
         "--gopher", "--c4-min-kept-lines", "1",
         "--c4-no-terminal-punct"],
        capture_output=True, text=True, timeout=420, env=env,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    with open(os.path.join(out, "_funnel.json")) as f:
        stages = [s["stage"] for s in json.load(f)]
    assert "c4_cleanup" in stages and "gopher" in stages
