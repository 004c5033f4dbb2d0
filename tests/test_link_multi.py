"""Single-pass multi-type linking over the mixed-label fixture must
equal the union over labels of the pure-Python oracle's per-type runs,
row-for-row (both strategies); labels outside the run's types, or
NULL, are routed, never dropped."""

import os

import pytest
from pyspark.sql import functions as F

from ontology_matcher_spark import oracle
from ontology_matcher_spark.ontology_types import ONTOLOGY_TYPES, Strategy
from ontology_matcher_spark.operators.link_multi import link_mentions_multi
from ontology_matcher_spark.schemas import FAILED_COLUMNS, FORMATTED_COLUMNS, MENTIONS


def _spark_rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _oracle_rows(rows, cols):
    return sorted(tuple(r.get(c, "") or "" for c in cols) for r in rows)


@pytest.mark.parametrize("strategy", [Strategy.MIXTURE, Strategy.UNIQUE])
def test_multi_equals_per_type_union(spark, bundle, fixture_dir, strategy):
    mentions, edges, terms = (
        spark.read.parquet(os.path.join(fixture_dir, f"{n}.parquet"))
        for n in ("mentions", "xref_edges", "ontology_terms")
    )
    got_fmt, got_failed = link_mentions_multi(
        mentions, edges, terms, ONTOLOGY_TYPES, strategy
    )

    exp_fmt, exp_failed = [], []
    for tname, otype in ONTOLOGY_TYPES.items():
        mentions_py = [m for m in bundle.mentions if m["label"] == tname]
        conv, failed = oracle.match(mentions_py, bundle.xref_edges, otype, strategy)
        fmt, failed_fmt = oracle.format_output(
            mentions_py, conv, failed, bundle.terms, otype, strategy
        )
        exp_fmt += fmt
        exp_failed += failed_fmt

    assert _spark_rows(got_fmt, FORMATTED_COLUMNS) == _oracle_rows(
        exp_fmt, FORMATTED_COLUMNS
    )
    assert _spark_rows(got_failed, FAILED_COLUMNS) == _oracle_rows(
        exp_failed, FAILED_COLUMNS
    )


@pytest.mark.parametrize("strategy", [Strategy.MIXTURE, Strategy.UNIQUE])
def test_out_of_type_and_null_labels_routed(spark, fixture_dir, strategy):
    """Labels outside ``types`` (here the fixture's Compound, Metabolite
    and Symptom rows plus a made-up Pathway) and NULL labels are never
    dropped: every mention lands in exactly one output. They fail with
    'Invalid prefix' — failed rows under UNIQUE, rescued raw records
    under MIXTURE — and the in-type rows are linked as without them."""
    fixture, edges, terms = (
        spark.read.parquet(os.path.join(fixture_dir, f"{n}.parquet"))
        for n in ("mentions", "xref_edges", "ontology_terms")
    )
    types = {t: ONTOLOGY_TYPES[t] for t in ("Gene", "Disease")}
    extra = spark.createDataFrame(
        [
            ("ZZZ:3", "zzz", "Pathway", "r", "", "", "", "", ""),
            ("ENTREZ:1", "entrez in pathway", "Pathway", "r", "", "", "", "", ""),
            ("ENTREZ:5", "unlabelled gene", None, "r", "", "", "", "", ""),
            ("MONDO:0000001", "unlabelled disease", None, "r", "", "", "", "", ""),
        ],
        MENTIONS,
    )
    mentions = fixture.select(*MENTIONS.fieldNames()).unionByName(extra)
    in_type = F.col("label").isin(list(types))
    fmt, failed = link_mentions_multi(mentions, edges, terms, types, strategy)

    assert fmt.count() + failed.count() == mentions.count()
    out_of_type = ~in_type | F.col("label").isNull()
    # a CURIE fails its (absent) prefix check; a malformed id stays
    # a format failure
    exp = sorted(
        (r["id"], r["label"], oracle.R_BAD_PREFIX if ":" in (r["id"] or "")
         else oracle.R_BAD_FORMAT)
        for r in mentions.where(out_of_type).collect()
    )
    assert oracle.R_BAD_PREFIX in {reason for *_, reason in exp}
    out_fmt, out_failed = fmt.where(out_of_type), failed.where(out_of_type)
    if strategy == Strategy.UNIQUE:
        assert out_fmt.count() == 0
        assert sorted(
            (r["id"], r["label"], r["reason"]) for r in out_failed.collect()
        ) == exp
    else:
        assert out_failed.count() == 0 and out_fmt.count() == len(exp)
        # a NULL-label row keeps its raw record
        names = {r["name"] for r in out_fmt.where(F.col("label").isNull()).collect()}
        assert names == {"unlabelled gene", "unlabelled disease"}

    base_fmt, base_failed = link_mentions_multi(
        mentions.where(in_type), edges, terms, types, strategy
    )
    assert _spark_rows(fmt.where(in_type), FORMATTED_COLUMNS) == _spark_rows(
        base_fmt, FORMATTED_COLUMNS
    )
    assert _spark_rows(failed.where(in_type), FAILED_COLUMNS) == _spark_rows(
        base_failed, FAILED_COLUMNS
    )


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
