"""The graph family has one co-purchase edge builder
(`graph_quality_ops._copurchase_edges`) and one min-label connected-
components loop (`graph_components.hash_min_components`). Each consumer
below must reach its shared function: the spy stands in for it and raises,
so a builder with its own copy runs to the end and fails the test."""

from __future__ import annotations

import pytest

from kinesis_customer_sample_spark.queries import graph_components, graph_quality_ops
from kinesis_customer_sample_spark.registry import load_registry


class _Reached(Exception):
    pass


_EDGES = (graph_quality_ops, "_copurchase_edges")
_COMPONENTS = (graph_components, "hash_min_components")
_CONSUMERS = {
    "q120_copurchase_bfs": _EDGES,
    "q159_pagerank_power_iteration": _EDGES,
    "q168_recursive_cte_reachability": _EDGES,
    "q315_bellman_ford_cheapest": _EDGES,
    "q90_dedup_clusters": _COMPONENTS,
    "q184_entity_resolution": _COMPONENTS,
    "q292_connected_components": _COMPONENTS,
}


@pytest.mark.parametrize("name", list(_CONSUMERS))
def test_consumer_uses_shared_graph_function(spark, sf_dir, monkeypatch, name):
    module, func = _CONSUMERS[name]

    def spy(*args):
        raise _Reached(func)

    monkeypatch.setattr(module, func, spy)
    with pytest.raises(_Reached):
        load_registry()[name].fn(spark, sf_dir)
