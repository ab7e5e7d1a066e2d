"""The barrier mechanism is the one user-set option left in the
package (SCALING.md "Barrier mechanism modes"): ``local`` lazy
localCheckpoint (default) or ``durable`` reliable checkpoint(), the
cluster fault-recovery path. It changes physical materialization
only, never results.

PageRank's barrier placement and edge build are picked by
``decade_regime(spark)`` from the shuffle width (SCALING.md §PR8G),
not by an option; the forced-decade tests below pin that the decade
plan (self-join edge build, sharded pair distinct, DISK_ONLY
barriers) returns the fixture-width rows.
"""

from __future__ import annotations

import re

import pytest

import bigdataprojectspring16_spark.session as S
from bigdataprojectspring16_spark import QUERIES
from bigdataprojectspring16_spark.llmops import graph
from bigdataprojectspring16_spark.plans import barriers

from .conftest import SF_SMALL as SF_DIR

#: Every registry key that still places a barrier: the CC fixpoint
#: rounds, the PageRank loop invariants and the k-means rounds.
_BARRIER_KEYS = [
    "graph_connected_components",
    "graph_pagerank_rounds",
    "kmeans_lloyd_rounds",
]


def _rows(spark, key):
    return sorted(tuple(r) for r in QUERIES[key](spark, SF_DIR).collect())


@pytest.mark.parametrize("mode", ["durable"])
def test_barrier_modes_result_identical(spark, tmp_path, mode):
    base = {k: _rows(spark, k) for k in _BARRIER_KEYS}
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(barriers.BARRIER_MODE_CONF, mode)
    try:
        for k in _BARRIER_KEYS:
            assert _rows(spark, k) == base[k], (mode, k)
        # durable really wrote to the checkpoint dir (not a silent
        # fallback to local blocks)
        assert any(p.is_file() for p in (tmp_path / "ckpt").rglob("*"))
    finally:
        spark.conf.unset(barriers.BARRIER_MODE_CONF)


def test_barrier_mode_rejects_unknown_value(spark):
    assert barriers.barrier_mode(spark) == "local"
    # the removed eager mode must fail loudly, not fall back to local
    for bad in ("bogus", "eager"):
        spark.conf.set(barriers.BARRIER_MODE_CONF, bad)
        try:
            with pytest.raises(ValueError, match="barrierMode"):
                barriers.barrier_mode(spark)
        finally:
            spark.conf.unset(barriers.BARRIER_MODE_CONF)


@pytest.fixture(scope="module")
def pagerank_runs(spark):
    """graph_pagerank_rounds at the decade shuffle width (64 ×
    defaultParallelism, forced at fixture data) and at fixture width:
    rows, the executed plan of the edge frame handed to the first
    barrier, and the disk flag of every barrier placed."""
    real_barrier = graph.barrier
    seen = []

    def recording_barrier(df, disk=False):
        seen.append((df, disk))
        return real_barrier(df, disk=disk)

    def run():
        seen.clear()
        df = QUERIES["graph_pagerank_rounds"](spark, SF_DIR)
        rows = sorted(map(tuple, df.collect()))
        edges = seen[0][0]._jdf.queryExecution().executedPlan().toString()
        return rows, edges, [disk for _, disk in seen]

    key = S._SHUFFLE_PARTITIONS_KEY
    orig = spark.conf.get(key)
    width = 64 * spark.sparkContext.defaultParallelism
    graph.barrier = recording_barrier
    try:
        spark.conf.set(key, str(width))  # force the decade regime
        try:
            decade = run()
        finally:
            spark.conf.set(key, orig)
        fixture = run()
    finally:
        graph.barrier = real_barrier
    return width, decade, fixture


def test_pagerank_edge_build_both_strategies_identical(pagerank_runs):
    # decade regime: orderkey self-join edge build; fixture width:
    # grouped collect_set build; same rows
    _, (decade_rows, plan, _), (rows, fixture_plan, _) = pagerank_runs
    assert re.search(r"Join .*\[okey#\d+L?\], \[okey#\d+L?\]", plan), (
        "decade edge build is not the orderkey self-join:\n" + plan
    )
    assert "collect_set" not in plan
    assert "collect_set" in fixture_plan
    assert len(rows) == 20
    assert decade_rows == rows


def test_pagerank_sharded_agg_all_modes_identical(pagerank_runs):
    # decade regime: the pair distinct is key-sliced by a
    # non-coalescable REPARTITION_BY_NUM exchange and every invariant
    # barrier is DISK_ONLY; fixture width has neither; same rows
    width, (decade_rows, plan, disks), fixture = pagerank_runs
    rows, fixture_plan, fixture_disks = fixture
    pair_shard = re.search(
        r"Exchange hashpartitioning\(u#\d+L?, v#\d+L?, (\d+)\), "
        r"REPARTITION_BY_NUM",
        plan,
    )
    assert pair_shard and int(pair_shard.group(1)) == width, plan
    # the shard sits below the pair distinct (the (u, v) aggregate)
    assert plan.index("HashAggregate(keys=[u#") < pair_shard.start()
    assert disks == [True, True, True]
    assert "REPARTITION_BY_NUM" not in fixture_plan
    assert fixture_disks == [False, False, False]
    assert decade_rows == rows
