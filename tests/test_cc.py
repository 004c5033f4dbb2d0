"""Connected-components property tests: the DataFrame
large-star/small-star implementation vs a plain-Python union-find
(SURVEY.md §5 item 6)."""

import random

import pytest
from pyspark.sql import functions as F

from ontology_matcher_spark import oracle
from ontology_matcher_spark.ontology_types import DISEASE
from ontology_matcher_spark.operators.canonicalize import (
    canonical_assignment_by_label,
    connected_components,
)


def _run_cc(spark, edges):
    """Both execution strategies must match the Python oracle: the
    driver union-find fast path (default below SMALL_GRAPH_EDGES) and
    the distributed star loop (forced via small_graph_threshold=None)."""
    df = spark.createDataFrame(edges, ["src", "dst"])
    exp = oracle.connected_components(edges)
    got_uf = {
        r["node"]: r["root"] for r in connected_components(df).collect()
    }
    assert got_uf == exp
    got_star = {
        r["node"]: r["root"]
        for r in connected_components(df, small_graph_threshold=None).collect()
    }
    assert got_star == exp


def test_cc_chain(spark):
    _run_cc(spark, [(f"n{i}", f"n{i+1}") for i in range(20)])


def test_cc_clique_plus_hub(spark):
    clique = [(f"c{i}", f"c{j}") for i in range(8) for j in range(8) if i != j]
    hub = [("hub", f"leaf{i:03d}") for i in range(200)]
    _run_cc(spark, clique + hub)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_cc_random(spark, seed):
    rng = random.Random(seed)
    nodes = [f"x{i:03d}" for i in range(120)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    _run_cc(spark, edges)


def test_canonical_assignment_prefers_default_ns(spark):
    edges = [
        ("MONDO:5", "DOID:1"),
        ("DOID:1", "MESH:9"),
        ("AAA:0", "MESH:9"),  # lexicographically smaller than MONDO:5
        ("UMLS:7", "SYMP:2"),  # component without default ns
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    # every node labelled one type whose default namespace is MONDO
    nodes = sorted({n for e in edges for n in e})
    labels = spark.createDataFrame([(n, "Disease") for n in nodes], ["curie", "label"])
    got = {
        r["node"]: r["canonical"]
        for r in canonical_assignment_by_label(
            df, labels, {"Disease": DISEASE}
        ).collect()
    }
    exp = oracle.canonical_assignment(edges, "MONDO")
    assert got == exp
    assert got["DOID:1"] == "MONDO:5"  # default-ns member beats smaller string
    assert got["SYMP:2"] == "SYMP:2"  # min member fallback


def test_cc_on_fixture_edges(spark, fixture_dir, bundle):
    import os

    df = spark.read.parquet(os.path.join(fixture_dir, "xref_edges.parquet"))
    got = {
        r["node"]: r["root"]
        for r in connected_components(df, src="src_curie", dst="dst_curie").collect()
    }
    edges = [(e["src_curie"], e["dst_curie"]) for e in bundle.xref_edges]
    exp = oracle.connected_components(edges)
    assert got == exp
    # chain clusters must merge transitively even though candidate gen
    # only sees distance-1 edges
    chains = [c for cl in bundle.clusters.values() for c in cl if c.chain]
    assert chains
    for c in chains:
        roots = {got[m] for m in c.members}
        assert len(roots) == 1, c.key


def test_cc_small_graph_guard_two_stage(spark):
    """A dup-heavy edge list (raw count above the threshold, distinct
    set below it) must still take the union-find fast path after the
    distinct — the mention-derived pipeline shape; and a distinct set
    above the threshold must run the star loop off the materialized
    distinct table. Both must be exact."""
    base = [("a", "b"), ("b", "c"), ("x", "y")]
    dup = base * 7  # raw 21
    df = spark.createDataFrame(dup, ["src", "dst"])
    exp = oracle.connected_components(dup)
    got_uf2 = {
        r["node"]: r["root"]
        for r in connected_components(df, small_graph_threshold=5).collect()
    }
    assert got_uf2 == exp
    got_star = {
        r["node"]: r["root"]
        for r in connected_components(df, small_graph_threshold=2).collect()
    }
    assert got_star == exp
