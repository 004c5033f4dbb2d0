"""Single-pass multi-type linking must equal the union of per-type
runs row-for-row (both strategies)."""

import os

import pytest
from pyspark.sql import functions as F

from ontology_matcher_spark.ontology_types import ONTOLOGY_TYPES, Strategy
from ontology_matcher_spark.operators.link_multi import link_mentions_multi
from ontology_matcher_spark.plans.pipeline import link_mentions
from ontology_matcher_spark.schemas import FAILED_COLUMNS, FORMATTED_COLUMNS


@pytest.mark.parametrize("strategy", [Strategy.MIXTURE, Strategy.UNIQUE])
def test_multi_equals_per_type_union(spark, fixture_dir, strategy):
    mentions = spark.read.parquet(os.path.join(fixture_dir, "mentions.parquet"))
    edges = spark.read.parquet(os.path.join(fixture_dir, "xref_edges.parquet"))
    terms = spark.read.parquet(os.path.join(fixture_dir, "ontology_terms.parquet"))

    got_fmt, got_failed = link_mentions_multi(
        mentions, edges, terms, ONTOLOGY_TYPES, strategy
    )

    exp_fmt_rows, exp_failed_rows = [], []
    for tname, otype in ONTOLOGY_TYPES.items():
        fmt, failed = link_mentions(
            mentions.where(F.col("label") == tname), edges, terms, otype, strategy
        )
        exp_fmt_rows += [tuple(r[c] for c in FORMATTED_COLUMNS) for r in fmt.collect()]
        exp_failed_rows += [
            tuple(r[c] for c in FAILED_COLUMNS) for r in failed.collect()
        ]

    got_fmt_rows = [tuple(r[c] for c in FORMATTED_COLUMNS) for r in got_fmt.collect()]
    got_failed_rows = [
        tuple(r[c] for c in FAILED_COLUMNS) for r in got_failed.collect()
    ]
    assert sorted(got_fmt_rows) == sorted(exp_fmt_rows)
    assert sorted(got_failed_rows) == sorted(exp_failed_rows)


def test_plan_build_py4j_budget(spark, fixture_dir, monkeypatch):
    """Building the five-type plan stays cheap on the driver: the label
    ladders are SQL text, one F.expr/selectExpr per projection, so the
    call makes O(projections) py4j round trips. Built Column node by
    Column node (14-35 round trips each) it made about 20k."""
    from py4j.clientserver import ClientServerConnection

    mentions, edges, terms = (
        spark.read.parquet(os.path.join(fixture_dir, f"{n}.parquet"))
        for n in ("mentions", "xref_edges", "ontology_terms")
    )
    calls = 0
    send = ClientServerConnection.send_command

    def counted(self, *a, **k):
        nonlocal calls
        calls += 1
        return send(self, *a, **k)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    link_mentions_multi(mentions, edges, terms, ONTOLOGY_TYPES, Strategy.UNIQUE)
    monkeypatch.undo()
    assert 0 < calls <= 2000, calls
