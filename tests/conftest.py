import os
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# Local mode runs driver and executors in one JVM. Under the engine's
# 48g default heap, G1 keeps growing instead of collecting, and on a
# machine with less memory than that the OS kills the JVM mid-suite
# (every later Spark test then fails). Set before any session starts,
# so the suite's own JVM and the ones its subprocess tests launch share
# the bound; 4g is ample for the test corpora.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from search_engine_spark.session import get_spark

    s = get_spark("pytest", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_pdf():
    """Deterministic 150-doc synthetic web corpus as pandas (shared shape
    with sources.corpus.synthesize_web_corpus)."""
    from search_engine_spark.sources.corpus import _gen_rows

    pdf = _gen_rows(np.arange(150))
    # 1-based dense doc_id by url order — same rule as corpus.with_doc_ids
    pdf = pdf.sort_values("url").reset_index(drop=True)
    pdf["doc_id"] = np.arange(1, len(pdf) + 1, dtype="int64")
    return pdf


@pytest.fixture(scope="session")
def corpus_docs(corpus_pdf):
    """{doc_id: text} for the oracle."""
    return dict(zip(corpus_pdf["doc_id"], corpus_pdf["text"]))


@pytest.fixture(scope="session")
def corpus_sdf(spark, corpus_pdf):
    sdf = spark.createDataFrame(corpus_pdf[["doc_id", "url", "warc_ts", "text", "lang"]])
    return sdf.cache()


@pytest.fixture(scope="session")
def built_index(spark, corpus_sdf):
    from search_engine_spark import engine
    from search_engine_spark.functions.analyzer import AnalyzerConfig

    return engine.build_index(corpus_sdf, AnalyzerConfig.full())


@pytest.fixture(scope="session")
def oracle_index(corpus_docs):
    from tests import oracle

    return oracle.build_index(corpus_docs)


@pytest.fixture(scope="session")
def seg_index_dir(tmp_path_factory, spark, corpus_sdf):
    """Durable index over the corpus with 16-doc blocks, so queries
    cross many blocks and the serving kernels' pruning kicks in. Built
    once per session; modules open it through ``seg_index``."""
    from search_engine_spark.sources import catalog

    d = str(tmp_path_factory.mktemp("segidx") / "index")
    catalog.build_durable_index(spark, corpus_sdf, d, buckets=16,
                                block_span=16)
    return d


@pytest.fixture(scope="module")
def seg_index(spark, seg_index_dir):
    """A fresh handle on ``seg_index_dir`` per module: tests clear its
    mini-index LRU, resize it and monkeypatch ``deleted_ids``."""
    from search_engine_spark.sources import catalog

    return catalog.load_index(spark, seg_index_dir)
