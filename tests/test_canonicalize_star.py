"""Differential test: the closed-form star-forest canonicalization must
equal the general iterative connected-components on real link tables AND
the iterative path must still handle non-star graphs (chains) correctly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import assert_pdf_equal
from transner_spark.operators.annotate import explode_triples
from transner_spark.operators.canonicalize import (
    canonicalize,
    connected_components,
    links_to_edges,
)
from transner_spark.operators.linking import link_surfaces, node_surfaces


def test_star_equals_iterative_on_real_links(spark, annotated):
    links = link_surfaces(spark, node_surfaces(explode_triples(annotated)))
    star = canonicalize(links).toPandas()
    iterative = connected_components(links_to_edges(links)).select(
        "node_id", F.col("canon_id")
    ).toPandas()
    assert len(star) > 0
    assert_pdf_equal(star, iterative, ["node_id"])


def test_star_handles_synthetic_star_forest(spark):
    links = spark.createDataFrame(
        [
            ("anna", "ent:1", 1.0, "exact"),
            ("annie", "ent:1", 0.8, "fuzzy"),
            ("zeta corp", "ent:9", 1.0, "exact"),
            ("loner", None, 0.0, "none"),
        ],
        "norm_key string, entity_key string, score double, method string",
    )
    got = {
        r["node_id"]: r["canon_id"]
        for r in canonicalize(links).collect()
    }
    # component {ent:1, surface:anna, surface:annie}: min is "ent:1"
    assert got["surface:anna"] == "ent:1"
    assert got["surface:annie"] == "ent:1"
    assert got["ent:1"] == "ent:1"
    # component {ent:9, surface:zeta corp}: "ent:9" < "surface:..."
    assert got["surface:zeta corp"] == "ent:9"
    # singleton
    assert got["surface:loner"] == "surface:loner"
    assert len(got) == 6


def test_iterative_cc_still_handles_chains(spark):
    """The fallback remains correct on a non-star graph (a 4-node chain
    spanning two hops — something the closed form must NOT be used for)."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "x")],
        "src string, dst string",
    )
    got = {r["node_id"]: r["canon_id"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x"}
