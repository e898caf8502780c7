"""The query runner's selection and error-isolation rules, on fake queries
(no Spark session), and the bench's headline list against the registry."""

from __future__ import annotations

from types import SimpleNamespace

import bench
from kinesis_customer_sample_spark.registry import load_registry
from kinesis_customer_sample_spark.runner import select, sweep

# registry order deliberately differs from name order
_FAKE = {
    name: SimpleNamespace(name=name)
    for name in ("q12_b", "q1_a", "q120_c", "q2_d", "q12_a")
}


def test_select_exact_name():
    assert select(_FAKE, ["q2_d"]) == (["q2_d"], [])


def test_select_prefix_expands_in_registry_order():
    assert select(_FAKE, ["q12"]) == (["q12_b", "q120_c", "q12_a"], [])
    assert select(_FAKE, ["q12_"]) == (["q12_b", "q12_a"], [])


def test_select_keeps_pattern_order_without_duplicates():
    assert select(_FAKE, ["q2", "q1_", "q12_a", "q1"]) == (
        ["q2_d", "q1_a", "q12_a", "q12_b", "q120_c"],
        [],
    )


def test_select_reports_unknown_patterns():
    assert select(_FAKE, ["q9", "q1_a", "zz"]) == (["q1_a"], ["q9", "zz"])


def test_select_without_patterns_is_the_whole_registry():
    assert select(_FAKE, []) == (list(_FAKE), [])


def test_sweep_isolates_a_raising_query():
    ran = []

    def one(name):
        ran.append(name)
        if name == "q1_a":
            raise ValueError("boom")
        return len(name)

    results, errors = sweep(list(_FAKE), one)
    assert ran == list(_FAKE)
    assert results == {n: len(n) for n in _FAKE if n != "q1_a"}
    assert errors == {"q1_a": "ValueError: boom"}


def test_bench_headline_resolves_in_registry():
    """Every bench key is a registry name, listed once, and the prefix rule
    widens none of them to another name: bench's 277 keys stay comparable."""
    assert len(bench.HEADLINE) == 277
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert select(load_registry(), bench.HEADLINE) == (bench.HEADLINE, [])
