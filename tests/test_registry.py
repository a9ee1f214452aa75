"""The harness registry's order: the driver-recorded ``_HEAD`` first,
then every other registration in registration order. Pure-Python — no
SparkSession needed."""

from __future__ import annotations

from reddit_etl_spark import harness


def test_registry_is_permutation():
    order = list(harness.registry())
    assert set(order) == set(harness._REGISTRY)
    assert len(order) == len(harness._REGISTRY)


def test_head_then_registration_order():
    order = list(harness.registry())
    head = list(harness._HEAD)
    assert len(head) == len(set(head)) == 50
    assert order[:50] == head
    assert order[50:] == [n for n in harness._REGISTRY if n not in set(head)]
    # the full 22-query TPC-H shape suite stays registered
    assert len([n for n in order if n.startswith("tpch_")]) == 22
