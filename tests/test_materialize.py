"""The one owner of materialized intermediates: ``session.intermediates``
frees what it holds on exit, error or not, and the iterative graph
operators built on it leave nothing behind when they fail to converge."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crocus_spark.operators.graph import connected_components, k_core
from crocus_spark.session import intermediates, materialize


def _rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _added(spark, before: set[int]) -> set[int]:
    # ids only: the ContextCleaner may drop OLDER ids at any moment
    return _rdds(spark) - before


def test_scope_releases_on_exit(spark):
    before = _rdds(spark)
    with intermediates() as own:
        own.checkpoint(spark.range(10))
        cached = own.persist(spark.range(5))
        assert cached.count() == 5
        assert len(_added(spark, before)) == 2
    assert _added(spark, before) == set()


def test_scope_releases_on_exception(spark):
    before = _rdds(spark)
    with pytest.raises(ZeroDivisionError):
        with intermediates() as own:
            own.checkpoint(spark.range(10))
            own.persist(spark.range(5)).count()
            1 / 0
    assert _added(spark, before) == set()


def test_release_frees_early_and_only_once(spark):
    before = _rdds(spark)
    with intermediates() as own:
        first = own.checkpoint(spark.range(10))
        second = own.checkpoint(spark.range(20))
        own.release(first)
        assert len(_added(spark, before)) == 1
        assert second.count() == 20
        with pytest.raises(ValueError):
            own.release(first)
    assert _added(spark, before) == set()


def test_kept_and_materialized_relations_outlive_the_scope(spark):
    before = _rdds(spark)
    with intermediates() as own:
        kept = own.keep(own.checkpoint(spark.range(7)))
        made = materialize(spark.range(3))
    assert len(_added(spark, before)) == 2
    assert kept.count() == 7 and made.count() == 3


def _path_edges(spark, n: int, ids: str):
    e = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    if ids == "string":  # the generic (non-summable id) label loop
        e = e.select(
            F.format_string("n%04d", "src").alias("src"),
            F.format_string("n%04d", "dst").alias("dst"),
        )
    return e


@pytest.mark.parametrize("ids", ["long", "string"])
def test_nonconverging_components_raise_and_hold_nothing(spark, ids):
    edges = _path_edges(spark, 64, ids)
    before = _rdds(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1)
    assert _added(spark, before) == set()


@pytest.mark.parametrize("ids", ["long", "string"])
def test_converged_components_hold_only_their_result(spark, ids):
    edges = _path_edges(spark, 64, ids)
    before = _rdds(spark)
    labels = connected_components(edges)
    comps = {r["comp"] for r in labels.select("comp").distinct().collect()}
    assert comps == ({0} if ids == "long" else {"n0000"})
    assert len(_added(spark, before)) <= 1


def test_nonconverging_k_core_raises_and_holds_nothing(spark):
    edges = _path_edges(spark, 64, "long").select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    before = _rdds(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        k_core(edges, k=2, max_iter=1)
    assert _added(spark, before) == set()
