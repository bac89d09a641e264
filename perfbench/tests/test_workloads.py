"""Workload membership and issue plans."""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]

import bench  # noqa: E402
import workloads  # noqa: E402
from mini_pandas_spark.queries import queries  # noqa: E402


@pytest.fixture(scope="module")
def qs():
    return queries()


def test_every_headline_row_in_exactly_one_sequential_workload(qs):
    groups = workloads.membership(bench.HEADLINE, qs)
    assert set(groups) == set(workloads.SEQUENTIAL)
    placed = [n for rows in groups.values() for n in rows]
    assert sorted(placed) == sorted(bench.HEADLINE)
    assert len(placed) == len(set(placed))
    for group, rows in groups.items():
        mods = {workloads.PACKAGE + m for m in workloads.GROUPS[group]}
        assert all(qs[n].__module__ in mods for n in rows)


def test_unowned_module_is_refused(qs):
    def stray(spark, sf_dir):
        return None

    stray.__module__ = "mini_pandas_spark.operators.unowned"
    with pytest.raises(ValueError, match="unowned"):
        workloads.membership(["stray"], {**qs, "stray": stray})


def test_seed_orders_a_fixed_subset(qs):
    plans = [workloads.sequential_plan("corpus", s, bench.HEADLINE, qs) for s in range(5)]
    assert plans[0] == workloads.sequential_plan("corpus", 0, bench.HEADLINE, qs)
    assert all(sorted(p) == sorted(plans[0]) for p in plans)
    assert len({tuple(p) for p in plans}) > 1
    rows = workloads.membership(bench.HEADLINE, qs)["corpus"][:: workloads.STRIDE["corpus"]]
    assert sorted(plans[0]) == sorted(rows)


def test_concurrent_mix_reaches_every_module_and_repeats(qs):
    pool = workloads.concurrent_pool(bench.HEADLINE, qs)
    assert {workloads.module_of(qs[n]) for n in pool} == set(workloads.modules())
    assert len(pool) == len(set(pool))
    queue = workloads.concurrent_queue(7, bench.HEADLINE, qs)
    assert queue == workloads.concurrent_queue(7, bench.HEADLINE, qs)
    rounds = workloads.CONCURRENT_ROUNDS
    assert rounds > 1 and all(queue.count(n) == rounds for n in pool)
    assert queue != workloads.concurrent_queue(8, bench.HEADLINE, qs)


def test_builder_use_follows_calls(qs):
    import warmup

    names = workloads.reachable_names(qs["zorder_box_pruning"])
    assert workloads.builder_used(warmup.zorder_layout_table, names)
    assert not workloads.builder_used(warmup.hilbert_layout_table, names)
    # the state-checkpoint builder fans out to the memoized checkpoint
    # builders the state readers reach
    names = workloads.reachable_names(qs["state_metadata_overview"])
    assert workloads.builder_used(warmup.build_standing_state_checkpoints, names)
    assert not workloads.builder_used(warmup._ingest_artifacts, names)


def test_listed_workloads_reach_every_module(qs):
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
        listed = [w["name"] for w in json.load(fh)["workloads"]]
    reached = {
        workloads.module_of(qs[n])
        for w in listed
        for n in workloads.plan(w, 0, bench.HEADLINE, qs)
    }
    assert reached == set(workloads.modules())
