"""Differential verification of the connected-components operator against
an INDEPENDENT pure-Python union-find (py_reference.golden_components).

The driver's SQL oracle for component queries is a DuckDB recursive-CTE
transitive closure, which explodes combinatorially on dense near-dup
cliques — it cannot follow the operators past sf0.1. Union-find is
O(E·α(E)), so this parity holds at ANY corpus size; `scripts/sf1_parity.py`
runs the same comparison on the 50k-doc sf1 expansion (results recorded in
SCALING.md)."""

import random

import pytest
from pyspark.sql import functions as F

from py_reference import golden_components
from scalding_spark.functions import dedup


def _random_edges(rng, n_nodes, n_edges):
    return list({(a, b) for a, b in
                 ((rng.randrange(n_nodes), rng.randrange(n_nodes))
                  for _ in range(n_edges)) if a != b})


def _spark_labels(spark, fn, edges):
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    return {r.node: r.comp for r in fn(df).collect()}


def _expected(edges):
    nodes = sorted({x for e in edges for x in e})
    return golden_components(nodes, edges)


def _with_loops(seed, n_nodes, n_edges):
    """Raw draws: self-loops and repeated edges kept."""
    rng = random.Random(seed)
    return [(rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)]


def _cliques(n):
    """n/5 five-node stars (diameter 2) — the dedup-shaped graph
    scripts/scaling.py measures."""
    return [(i, i - i % 5) for i in range(n) if i % 5]


@pytest.mark.parametrize("edges", [
    # sparse (forest-ish, many components), near-critical, dense (one
    # giant component) — the three Erdős–Rényi regimes
    _random_edges(random.Random(7), 200, 60),
    _random_edges(random.Random(8), 200, 190),
    _random_edges(random.Random(9), 120, 400),
    _random_edges(random.Random(11), 200, 120),
    _random_edges(random.Random(12), 90, 300),
    _with_loops(11, 120, 90),
    _cliques(500),
], ids=["er7_sparse", "er8_critical", "er9_dense", "er11", "er12",
        "loops11", "cliques500"])
def test_cc_matches_unionfind(spark, edges):
    got = _spark_labels(spark, dedup.connected_components, edges)
    assert got == _expected(edges)


def test_dedup_clusters_pipeline_matches_unionfind(spark, sf_dir):
    """The full q_dedup_clusters pipeline (ngram pairs → CC → per-doc
    cluster id) against union-find over the operator's own pair list plus
    the full doc-id universe (singletons label as themselves)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3,
                                      threshold=0.05, max_doc_freq=1000)
    edges = [(r.id_a, r.id_b) for r in
             pairs.select("id_a", "id_b").collect()]
    got = {r.doc_id: r.cluster_id for r in
           dedup.dedup_clusters(docs, pairs, "doc_id")
           .select("doc_id", "cluster_id").collect()}
    all_ids = [r.doc_id for r in docs.select("doc_id").collect()]
    assert got == golden_components(all_ids, edges)
    assert len(edges) > 0  # the parity must have exercised real merges


def test_unionfind_golden_basics():
    # chain, clique, singleton, endpoint-only-in-edges min labeling
    assert golden_components([1, 2, 3, 9], [(1, 2), (2, 3)]) == \
        {1: 1, 2: 1, 3: 1, 9: 9}
    # node 0 appears only in edges; it still supplies the component min
    assert golden_components([5, 6], [(5, 0), (0, 6)]) == {5: 0, 6: 0}
    assert golden_components([4], []) == {4: 4}
