"""Percolator (reverse search): stored queries matched against
incoming docs — conjunctive coverage counting over one broadcast join."""

import pytest

from search_engine_spark.functions.analyzer import AnalyzerConfig
from search_engine_spark.operators import percolate as PC

SIMPLE = AnalyzerConfig.simple()


@pytest.fixture(scope="module")
def pdocs(spark):
    rows = [
        (1, "join hash scan"),
        (2, "join merge"),
        (3, "hash hash hash"),
        (4, "scan sort join hash"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_register_shapes_and_refusals(spark):
    st = PC.register_queries(spark, [(1, "join hash"), (2, "scan")],
                             conf=SIMPLE)
    rows = {(r.query_id, r.term): r.n_required for r in st.collect()}
    assert rows == {(1, "hash"): 2, (1, "join"): 2, (2, "scan"): 1}
    # duplicate terms dedupe: 'join join' is a 1-term conjunction
    st2 = PC.register_queries(spark, [(7, "join join")], conf=SIMPLE)
    assert [(r.term, r.n_required) for r in st2.collect()] == [("join", 1)]
    for bad in ("join AND hash", '"join hash"', "#3(join, hash)", "pri*",
                "/jo.n/"):
        with pytest.raises(ValueError, match="free-text"):
            PC.register_queries(spark, [(9, bad)], conf=SIMPLE)
    with pytest.raises(ValueError, match="never match"):
        PC.register_queries(spark, [(9, "the of and")],
                            conf=AnalyzerConfig.full())


def test_conjunctive_matching(spark, pdocs):
    st = PC.register_queries(
        spark, [(1, "join hash"), (2, "scan"), (3, "join scan sort")],
        conf=SIMPLE)
    got = {(r.doc_id, r.query_id): r.n_matched
           for r in PC.percolate(pdocs, st, conf=SIMPLE).collect()}
    # q1 needs {join,hash}: docs 1,4. q2 needs {scan}: docs 1,4.
    # q3 needs {join,scan,sort}: doc 4 only.
    assert got == {(1, 1): 2, (4, 1): 2, (1, 2): 1, (4, 2): 1, (4, 3): 3}


def test_mm_relaxation(spark, pdocs):
    st = PC.register_queries(spark, [(3, "join scan sort")], conf=SIMPLE)
    mm1 = {(r.doc_id, r.query_id) for r in
           PC.percolate(pdocs, st, conf=SIMPLE, mm=1).collect()}
    # any of join/scan/sort present: docs 1 (join,scan), 2 (join), 4
    assert mm1 == {(1, 3), (2, 3), (4, 3)}
    mm2 = {r.doc_id for r in
           PC.percolate(pdocs, st, conf=SIMPLE, mm=2).collect()}
    assert mm2 == {1, 4}
    with pytest.raises(ValueError, match="mm"):
        PC.percolate(pdocs, st, conf=SIMPLE, mm=0)


def test_plan_broadcasts_stored_queries(spark, pdocs):
    st = PC.register_queries(spark, [(1, "join hash")], conf=SIMPLE)
    plan = PC.percolate(pdocs, st, conf=SIMPLE) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
