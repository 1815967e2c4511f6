"""Kahn's algorithm helpers (plans/dag.py) that order the datamart runner's
ref DAG and the asset graph: wave order, insertion-order ties, the
stuck-node error, and the ready queue a concurrent executor drains."""

from __future__ import annotations

import random

import pytest

from aave_etl_spark.plans.dag import ReadyQueue, kahn_order


def test_kahn_order_linear_chain():
    assert kahn_order({"c": ["b"], "b": ["a"], "a": []}, "cycle") == ["a", "b", "c"]


def test_kahn_order_ties_follow_insertion_order_not_name():
    assert kahn_order({"b": [], "a": [], "c": []}, "cycle") == ["b", "a", "c"]


def test_kahn_order_diamond():
    deps = {"d": ["b", "c"], "c": ["a"], "b": ["a"], "a": []}
    # wave 2 is {b, c}, emitted in declaration order (c before b)
    assert kahn_order(deps, "cycle") == ["a", "c", "b", "d"]


def test_kahn_order_whole_wave_precedes_next_wave():
    # "d" is declared first but depends on "a"; every dependency-free node
    # (a, e) comes out before it even though "e" is declared after it
    deps = {"d": ["a"], "a": [], "e": []}
    assert kahn_order(deps, "cycle") == ["a", "e", "d"]


def test_kahn_order_empty_map():
    assert kahn_order({}, "cycle") == []


def test_kahn_order_accepts_any_iterable_of_dependencies():
    deps = {"a": (), "b": {"a"}, "c": (x for x in ["a", "b"])}
    assert kahn_order(deps, "cycle") == ["a", "b", "c"]


def test_kahn_order_cycle_names_only_the_stuck_nodes():
    deps = {"a": ["b"], "b": ["a"], "c": [], "d": ["a"]}
    with pytest.raises(ValueError) as e:
        kahn_order(deps, "ref cycle")
    assert str(e.value) == "ref cycle among: ['a', 'b', 'd']"


def test_kahn_order_missing_dependency_is_stuck():
    with pytest.raises(ValueError, match=r"missing among: \['a'\]"):
        kahn_order({"a": ["ghost"], "b": []}, "missing")


def test_kahn_order_self_dependency_is_stuck():
    with pytest.raises(ValueError, match=r"cycle among: \['a'\]"):
        kahn_order({"a": ["a"]}, "cycle")


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_kahn_order_random_dags_respect_every_edge(seed):
    rng = random.Random(seed)
    names = [f"n{i}" for i in range(40)]
    # edges only point to earlier names (acyclic); declare in shuffled order
    deps = {n: rng.sample(names[:i], min(i, rng.randint(0, 3))) for i, n in enumerate(names)}
    shuffled = dict(rng.sample(list(deps.items()), len(deps)))
    order = kahn_order(shuffled, "cycle")
    assert sorted(order) == sorted(names)
    pos = {n: i for i, n in enumerate(order)}
    for n, ds in deps.items():
        assert all(pos[d] < pos[n] for d in ds)


def test_ready_queue_initial_nodes_in_declared_order():
    q = ReadyQueue({"z": [], "m": ["z"], "a": []})
    assert q.pop_ready() == ["z", "a"]
    assert q.pop_ready() == []


def test_ready_queue_pop_limit_takes_earliest_declared():
    q = ReadyQueue({"a": [], "b": [], "c": []})
    assert q.pop_ready(limit=2) == ["a", "b"]
    assert q.pop_ready(limit=0) == []
    assert q.pop_ready(limit=5) == ["c"]


def test_ready_queue_releases_a_node_after_its_last_dependency():
    q = ReadyQueue({"a": [], "b": [], "c": ["a", "b"]})
    assert q.pop_ready() == ["a", "b"]
    q.done("a")
    assert q.pop_ready() == []
    q.done("b")
    assert q.pop_ready() == ["c"]


def test_ready_queue_late_releases_sorted_by_declaration():
    q = ReadyQueue({"root": [], "x": ["root"], "y": ["root"], "w": ["root"]})
    q.pop_ready()
    q.done("root")
    assert q.pop_ready() == ["x", "y", "w"]


def test_ready_queue_done_with_unknown_node_is_a_no_op():
    q = ReadyQueue({"a": [], "b": ["a"]})
    q.pop_ready()
    q.done("not-a-node")
    assert q.pop_ready() == []
    q.done("a")
    assert q.pop_ready() == ["b"]


def test_ready_queue_repeated_dependency_needs_one_done():
    q = ReadyQueue({"a": [], "b": ["a", "a"]})
    q.pop_ready()
    q.done("a")
    assert q.pop_ready() == ["b"]


def test_ready_queue_dependency_outside_the_map_never_releases():
    q = ReadyQueue({"a": ["source_table"], "b": []})
    assert q.pop_ready() == ["b"]
    q.done("b")
    assert q.pop_ready() == []
