"""Connected-components unit tests vs a union-find oracle."""

from __future__ import annotations

import random
import threading

import pytest

from jena_spark.oracle.ref_pipeline import _components
from jena_spark.pipeline.canonicalize import connected_components


def _mapping(spark, edges, **kw) -> set[tuple[str, str]]:
    e = spark.createDataFrame(edges, "src string, dst string")
    return {(r["node"], r["component"])
            for r in connected_components(e, **kw).collect()}


def _run(spark, pairs):
    got = _mapping(spark, pairs)
    want_map = _components(pairs)
    # mapping contract: every node in some component appears, including
    # representatives self-mapped (rep -> rep)
    want = {(n, c) for n, c in want_map.items()}
    return got, want


def test_cc_star(spark):
    pairs = [("b", "a"), ("c", "a"), ("d", "a")]
    got, want = _run(spark, pairs)
    assert got == want


def test_cc_chain(spark):
    # long chain — the case naive label propagation handles slowly
    nodes = [f"n{i:03d}" for i in range(60)]
    pairs = list(zip(nodes[1:], nodes[:-1]))
    got, want = _run(spark, pairs)
    assert got == want


def test_cc_random_graph(spark):
    rng = random.Random(7)
    nodes = [f"x{i:02d}" for i in range(40)]
    pairs = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(50)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]
    got, want = _run(spark, pairs)
    assert got == want


def test_cc_two_components(spark):
    pairs = [("b", "a"), ("c", "b"), ("z", "y")]
    got, want = _run(spark, pairs)
    assert got == want
    comp = dict(got)
    assert comp["c"] == "a" and comp["z"] == "y"


def test_connected_components_distributed_equals_driver(spark):
    """Force the distributed (encoded large-star/small-star) path with
    driver_threshold=0 and assert it matches the driver union-find and
    the reference oracle, including the min-STRING representative
    election and representatives mapped to themselves — on chains,
    stars, multiple components, the benchmark's hot component (a star
    of 240 leaves plus a chain), reverse-duplicate edges and a graph of
    self-loops only."""
    mixed = [
        ("b", "a"), ("c", "b"), ("d", "c"),        # chain -> comp 'a'
        ("x2", "x1"), ("x3", "x1"), ("x4", "x1"),  # star  -> comp 'x1'
        ("m", "z"),                                 # pair  -> comp 'm'
        ("q", "q"),                                 # self-loop dropped
    ]
    hub = [(f"h{i:03d}", "h999") for i in range(240)]
    chain = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(59)]
    cases = {
        "mixed": mixed,
        "hot_star": hub,
        "chain_60": chain,
        "hot_star_plus_chain": hub + chain + [("n059", "h120")],
        "reverse_duplicates": [("b", "a"), ("a", "b"), ("b", "a"),
                               ("c", "b"), ("b", "c"), ("e", "d"), ("d", "e")],
    }
    dist = {}
    for name, edges in cases.items():
        driver = _mapping(spark, edges)
        dist[name] = _mapping(spark, edges, driver_threshold=0)
        want = set(_components([(a, b) for a, b in edges if a != b]).items())
        assert dist[name] == driver == want, name
    comp_of = dict(dist["mixed"])
    assert comp_of["d"] == "a" and comp_of["x4"] == "x1" and comp_of["z"] == "m"
    assert comp_of["a"] == "a"  # rep self-map present
    assert "q" not in comp_of

    # self-loops only: empty mapping, and the observed edge count must
    # not leave the call waiting on an Observation
    result: list = []
    t = threading.Thread(
        target=lambda: result.append(_mapping(
            spark, [("q", "q"), ("r", "r")], driver_threshold=0)),
        daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "connected_components blocked on a self-loop-only graph"
    assert result == [set()]


def test_connected_components_raises_when_not_converged(spark):
    """One round cannot collapse a 60-node chain: the distributed path
    must refuse to decode the partial iteration."""
    chain = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(59)]
    e = spark.createDataFrame(chain, "src string, dst string")
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(e, max_iter=1, driver_threshold=0)
