"""Direct unit tests for connected_components — both the Arrow driver
union-find path and the distributed hash-min label-propagation fallback,
cross-checked against each other and a known partition.
"""

import pytest

from bloom_filters_spark.operators import components
from bloom_filters_spark.operators.components import connected_components


def _labels(df):
    return {r["doc_id"]: r["cluster_id"] for r in df.collect()}


@pytest.fixture()
def edge_df(spark):
    def make(pairs):
        if not pairs:
            return spark.createDataFrame([], "id1 long, id2 long")
        return spark.createDataFrame(pairs, "id1 long, id2 long")

    return make


def test_chain_graph_min_label(spark, edge_df):
    # worst case for propagation depth: a 200-node path 0-1-2-...-199
    edges = edge_df([(i, i + 1) for i in range(199)])
    out = _labels(connected_components(edges))
    assert set(out) == set(range(200))
    assert all(v == 0 for v in out.values())


def test_two_components_and_orientation(spark, edge_df):
    # edges in both orientations, duplicate edges, two components
    edges = edge_df([(5, 3), (3, 7), (7, 3), (10, 12), (12, 10), (12, 14)])
    out = _labels(connected_components(edges))
    assert out == {3: 3, 5: 3, 7: 3, 10: 10, 12: 10, 14: 10}


def test_driver_and_labelprop_agree(spark, edge_df, monkeypatch):
    import random

    rng = random.Random(7)
    pairs = [(rng.randrange(500), rng.randrange(500)) for _ in range(400)]
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = edge_df(pairs)
    drv = _labels(connected_components(edges))
    monkeypatch.setattr(components, "DRIVER_EDGE_THRESHOLD", 0)
    dist = _labels(connected_components(edges))
    assert drv == dist


def test_empty_edges(spark, edge_df):
    out = connected_components(edge_df([]))
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["doc_id", "cluster_id"]


def test_isolated_vertices_join(spark, edge_df, monkeypatch):
    edges = edge_df([(1, 2)])
    verts = spark.createDataFrame([(1,), (2,), (9,)], "doc_id long")
    out = _labels(connected_components(edges, vertices=verts))
    assert out == {1: 1, 2: 1, 9: 9}
    # distributed path gives the same answer
    monkeypatch.setattr(components, "DRIVER_EDGE_THRESHOLD", 0)
    out2 = _labels(connected_components(edges, vertices=verts))
    assert out2 == out


def test_labelprop_long_chain_converges_with_pointer_jumping(
    spark, monkeypatch
):
    """A 120-node chain has diameter 119; plain one-hop hash-min needs
    119 iterations, pointer jumping needs ~log2 — must converge (one
    cluster, min label) well inside max_iter=12 with no warning."""
    import warnings

    from bloom_filters_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(119)], "id1 long, id2 long"
    )
    monkeypatch.setattr(components, "DRIVER_EDGE_THRESHOLD", 0)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # non-convergence warning = fail
        out = connected_components(edges, max_iter=12).collect()
    assert len(out) == 120
    assert {r["cluster_id"] for r in out} == {0}


def test_connected_components_string_ids_fall_back(spark):
    """String doc ids can't take the int64 Arrow driver solve — they
    must route to label propagation instead of crashing."""
    from bloom_filters_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [("u-a", "u-b"), ("u-b", "u-c"), ("u-x", "u-y")],
        "id1 string, id2 string",
    )
    out = {r["doc_id"]: r["cluster_id"]
           for r in connected_components(edges).collect()}
    assert out == {"u-a": "u-a", "u-b": "u-a", "u-c": "u-a",
                   "u-x": "u-x", "u-y": "u-x"}
