"""operators/iterate.py: the fixpoint loop behind ancestor_closure and
neardup_clusters frees every checkpoint it makes except the result, on
convergence and on the non-convergence raise alike."""

import pytest

from ontology_mapper_spark.operators import dedup
from ontology_mapper_spark.operators.graph import (
    ancestor_closure,
    connected_components,
    pagerank_int,
    term_graph_nodes_edges,
)
from ontology_mapper_spark.operators.iterate import _release
from ontology_mapper_spark.sources.ontology import (
    _t,
    fixture_onto_terms,
    onto_terms_from_rows,
)


def _n_persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _cache_manager_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _chain_onto(spark, depth):
    """t0 -> t1 -> ... -> t{depth}: every term's single parent is the next."""
    rows = [
        _t(f"t{i}", [f"term {i}"], parents={f"t{i + 1}": f"term {i + 1}"})
        for i in range(depth)
    ]
    return onto_terms_from_rows(spark, rows)


def _pairs(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a long, doc_b long")


def _run(spark, op):
    if op == "ancestor_closure":
        return [ancestor_closure(fixture_onto_terms(spark))]
    if op == "neardup_clusters":
        return [dedup.neardup_clusters(_pairs(spark, [(1, 2), (2, 3), (7, 8)]))]
    if op == "connected_components":
        edges = spark.createDataFrame([("b", "a"), ("b", "c")], ["src", "dst"])
        return [connected_components(edges)]
    if op == "pagerank_int":
        # 6 rounds: on the checkpoint cadence, with one per-round lineage cut
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"]
        )
        return [pagerank_int(edges, iterations=6)]
    return list(term_graph_nodes_edges(fixture_onto_terms(spark)))


@pytest.mark.spark
@pytest.mark.parametrize(
    "op",
    ["ancestor_closure", "neardup_clusters", "connected_components",
     "term_graph_nodes_edges", "pagerank_int"],
)
def test_no_cache_left_after_call(spark, op):
    # cached fixtures of earlier modules outlive those modules
    spark.catalog.clearCache()
    before = _n_persisted(spark)
    for df in _run(spark, op):
        assert df.collect()
    assert _cache_manager_empty(spark)
    # the returned relation's own checkpoint is the one allowed survivor
    assert _n_persisted(spark) <= before + 1


@pytest.mark.spark
@pytest.mark.parametrize("op", ["ancestor_closure", "neardup_clusters"])
def test_non_convergence_raises_and_releases(spark, op):
    before = _n_persisted(spark)
    with pytest.raises(RuntimeError, match=f"{op} did not converge in 1 "):
        if op == "ancestor_closure":
            ancestor_closure(_chain_onto(spark, 3), max_iterations=1)
        else:
            dedup.neardup_clusters(
                _pairs(spark, [(1, 2), (2, 3), (3, 4)]), max_iterations=1
            )
    assert _n_persisted(spark) <= before


@pytest.mark.spark
def test_release_refuses_a_plan_that_is_not_a_checkpoint(spark):
    with pytest.raises(TypeError, match="not a checkpointed DataFrame"):
        _release(spark.range(3))
    cp = spark.range(3).localCheckpoint()
    with pytest.raises(TypeError, match="Project"):
        _release(cp.select("id"))
    before = _n_persisted(spark)
    _release(cp)
    assert _n_persisted(spark) <= before - 1
