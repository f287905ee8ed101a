"""Tombstone deletes: logical exclusion on every query path, kernel /
relational rank-identity under deletes, physical vacuum via
merge_indexes, and the append-only batch commit semantics."""

import os

import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators import search as S
from search_engine_spark.operators import maxscore as MS
from search_engine_spark.sources import catalog
from tests.test_segments import kernel_blocks


@pytest.fixture()
def live_index(spark, corpus_sdf, tmp_path):
    d = str(tmp_path / "idx")
    catalog.build_durable_index(spark, corpus_sdf, d, buckets=16)
    return d


def _top(idx, q="market price growth", k=25):
    return [(r.doc_id, round(r.score, 9))
            for r in S.search_freetext(idx, q, k=k).collect()]


def test_deletes_exclude_from_every_query_path(spark, corpus_sdf,
                                               live_index, monkeypatch):
    idx = catalog.load_index(spark, live_index)
    before = _top(idx)
    assert before
    victims = [before[0][0], before[2][0]]
    out = catalog.delete_docs(spark, live_index, victims)
    assert out["rows"] == 2

    idx = catalog.load_index(spark, live_index)  # fresh handle sees them
    got_ids = [d for d, _ in _top(idx)]
    assert not set(victims) & set(got_ids)
    # scores of survivors unchanged (stale-stats-by-design: df/avgdl
    # refresh only at vacuum)
    survivors = [(d, s) for d, s in before if d not in victims]
    assert _top(idx)[: len(survivors)] == survivors[:25]

    # the kernel excludes them too, and stays rank-identical to the
    # relational path under deletes
    kernel_hits = MS.search_maxscore(idx, "market price growth", k=25)
    assert not set(victims) & {d for d, _ in kernel_hits}
    rel = _top(idx, k=25)
    assert [(d, round(s, 9)) for d, s in kernel_hits] == rel

    # a handle turns its tombstone set into the kernel's sorted array
    # once, not once per request
    import numpy as np

    converted = []
    fromiter = np.fromiter

    def counting(it, *args, **kwargs):
        if isinstance(it, frozenset):
            converted.append(len(it))
        return fromiter(it, *args, **kwargs)

    monkeypatch.setattr(np, "fromiter", counting)
    fresh = catalog.load_index(spark, live_index)
    for _ in range(2):
        assert MS.search_maxscore(fresh, "market price growth",
                                  k=25) == kernel_hits
    assert converted == [len(victims)]

    # phrase/positional path goes through the same lookup
    pos = idx.lookup(["market"], positional=True)
    assert pos.filter(F.col("doc_id").isin(victims)).count() == 0


def test_delete_batches_accumulate(spark, live_index):
    idx = catalog.load_index(spark, live_index)
    ids = [r.doc_id for r in idx.doc_stats.limit(4).collect()]
    b0 = catalog.delete_docs(spark, live_index, ids[:2])
    b1 = catalog.delete_docs(spark, live_index, ids[2:])
    assert (b0["batch"], b1["batch"]) == (0, 1)
    tombs = catalog.load_tombstones(spark, live_index)
    assert sorted(r.doc_id for r in tombs.collect()) == sorted(ids)
    with pytest.raises(ValueError, match="no doc_ids"):
        catalog.delete_docs(spark, live_index, [])


def test_vacuum_equals_fresh_build_over_live_docs(spark, corpus_sdf,
                                                  live_index, tmp_path):
    idx = catalog.load_index(spark, live_index)
    victims = [r.doc_id for r in idx.doc_stats.limit(5).collect()]
    catalog.delete_docs(spark, live_index, victims)

    vac = str(tmp_path / "vacuumed")
    catalog.merge_indexes(spark, [live_index], vac)

    fresh = str(tmp_path / "fresh")
    catalog.build_durable_index(
        spark, corpus_sdf.filter(~F.col("doc_id").isin(victims)), fresh,
        buckets=16)

    got = kernel_blocks(catalog.load_index(spark, vac))
    want = kernel_blocks(catalog.load_index(spark, fresh))
    assert got == want and got

    # stats recomputed over live docs; no tombstones carried forward
    vi = catalog.load_index(spark, vac)
    fi = catalog.load_index(spark, fresh)
    assert vi.stats == fi.stats
    assert catalog.load_tombstones(spark, vac) is None
    assert _top(vi) == _top(fi)


def test_auto_vacuum_policy(spark, corpus_sdf, live_index, tmp_path):
    """The deleted-fraction auto-vacuum (round-4): a delete below the
    threshold only reports the fraction; one that pushes past it runs
    the vacuum into vacuum_out, whose stats describe live docs only and
    whose ranking is identical to the tombstone-masked pre-vacuum view
    (same stale-stats trade both sides until refresh — here we assert
    the REFRESHED stats, the policy's whole point)."""
    idx = catalog.load_index(spark, live_index)
    n = idx.stats["n_docs"]
    ids = [r.doc_id for r in idx.doc_stats.orderBy("doc_id")
           .limit(int(n * 0.15) + 1).collect()]
    vac = str(tmp_path / "auto_vac")

    # first batch: ~5% deleted — below a 0.10 threshold, no vacuum
    out1 = catalog.delete_docs(spark, live_index, ids[: int(n * 0.05)],
                               auto_vacuum_threshold=0.10, vacuum_out=vac)
    assert 0 < out1["deleted_fraction"] <= 0.10
    assert "vacuumed_to" not in out1 and not os.path.exists(vac)

    # second batch crosses 10% → vacuum fires into vac
    out2 = catalog.delete_docs(spark, live_index, ids[int(n * 0.05):],
                               auto_vacuum_threshold=0.10, vacuum_out=vac)
    assert out2["deleted_fraction"] > 0.10
    assert out2["vacuumed_to"] == vac

    vi = catalog.load_index(spark, vac)
    # stats refreshed: n_docs counts live docs only, no tombstones carried
    assert vi.stats["n_docs"] == n - len(ids)
    assert catalog.load_tombstones(spark, vac) is None
    # vacuumed ranking == fresh build over the live corpus (rank+score)
    fresh = str(tmp_path / "fresh")
    catalog.build_durable_index(
        spark, corpus_sdf.filter(~F.col("doc_id").isin(ids)), fresh,
        buckets=16)
    assert _top(vi) == _top(catalog.load_index(spark, fresh))


def test_auto_vacuum_requires_out_dir(spark, live_index):
    with pytest.raises(ValueError, match="vacuum_out"):
        catalog.delete_docs(spark, live_index, [1],
                            auto_vacuum_threshold=0.1)


def test_delete_on_incomplete_index_refuses(spark, tmp_path):
    d = str(tmp_path / "notbuilt")
    os.makedirs(os.path.join(d, "manifest"))
    with pytest.raises(ValueError, match="not a completed index"):
        catalog.delete_docs(spark, d, [1])


def test_as_of_batch_time_travel(spark, live_index):
    """load_index(as_of_batch=) replays any past delete state: -1 is
    the pre-delete snapshot (rank-identical to the never-deleted index),
    batch 0 applies only the first delete, None is live — batches are
    immutable so every snapshot stays readable after later deletes."""
    pristine = _top(catalog.load_index(spark, live_index))
    ids = [d for d, _ in pristine]
    catalog.delete_docs(spark, live_index, ids[:2])   # batch 0
    catalog.delete_docs(spark, live_index, ids[2:4])  # batch 1
    assert catalog.tombstone_batches(live_index) == [0, 1]

    before = catalog.load_index(spark, live_index, as_of_batch=-1)
    assert _top(before) == pristine and before.deleted_ids() == frozenset()

    at0 = catalog.load_index(spark, live_index, as_of_batch=0)
    got0 = [d for d, _ in _top(at0)]
    assert not set(ids[:2]) & set(got0)
    assert set(ids[2:4]) <= set(got0)
    assert at0.deleted_ids() == frozenset(ids[:2])

    live = catalog.load_index(spark, live_index)
    assert not set(ids[:4]) & {d for d, _ in _top(live)}
    # snapshot at (or past) the last batch == live view
    assert _top(catalog.load_index(spark, live_index, as_of_batch=1)) \
        == _top(live)

    # the kernel serves the snapshot too (same deleted_ids plumbing)
    kernel0 = MS.search_maxscore(at0, "market price growth", k=25)
    assert [(d, round(s, 9)) for d, s in kernel0] == _top(at0)


def test_deleted_ids_bound(spark, live_index):
    """deleted_ids refuses to materialize an unbounded driver set: above
    the bound it raises with a vacuum recommendation; at/below it the
    set is identical to the unbounded collect."""
    idx = catalog.load_index(spark, live_index)
    ids = [r.doc_id for r in idx.doc_stats.limit(4).collect()]
    catalog.delete_docs(spark, live_index, ids)

    over = catalog.load_index(spark, live_index)
    with pytest.raises(ValueError, match="[Vv]acuum"):
        over.deleted_ids(max_ids=3)
    # the failed call must not poison the cache: the same handle with an
    # adequate bound returns the full set
    assert over.deleted_ids(max_ids=4) == frozenset(ids)
    assert catalog.load_index(spark, live_index).deleted_ids() \
        == frozenset(ids)

    # a set cached under a large bound is not handed to a later call
    # with a smaller one: every call enforces its own bound
    big = catalog.load_index(spark, live_index)
    assert big.deleted_ids(max_ids=1000) == frozenset(ids)
    with pytest.raises(ValueError, match="[Vv]acuum"):
        big.deleted_ids(max_ids=3)
    big.DELETED_IDS_MAX = 3  # later default-bound calls recheck too
    with pytest.raises(ValueError, match="[Vv]acuum"):
        big.deleted_ids()
