"""Spark pipeline vs pure-Python oracle parity (SURVEY.md §5 items 1-2).

The oracle transcribes the reference's routing semantics
(/root/reference/ontology_matcher/disease/__init__.py:102-178 +
ontology_formatter.py:675-771); the Spark stages must reproduce it
row-for-row. Comparison is multiset-of-tuples (the pipeline is
unordered by design)."""

import os

import pytest
from pyspark.sql import functions as F

from ontology_matcher_spark import oracle
from ontology_matcher_spark.ontology_types import ONTOLOGY_TYPES, Strategy
from ontology_matcher_spark.operators.link_multi import link_mentions_multi
from ontology_matcher_spark.plans.pipeline import link_mentions
from ontology_matcher_spark.schemas import (
    FAILED_COLUMNS,
    FORMATTED_COLUMNS,
    MENTIONS,
)


def _spark_rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _oracle_rows(rows, cols):
    return sorted(tuple(r.get(c, "") or "" for c in cols) for r in rows)


def _load(spark, fixture_dir, name):
    return spark.read.parquet(os.path.join(fixture_dir, f"{name}.parquet"))


_COMBOS = [(t, Strategy.MIXTURE) for t in ONTOLOGY_TYPES] + [
    ("Gene", Strategy.UNIQUE),
    ("Disease", Strategy.UNIQUE),  # UNIQUE path is type-independent code
]


@pytest.mark.parametrize("tname,strategy", _COMBOS)
def test_formatted_parity(spark, bundle, fixture_dir, tname, strategy):
    otype = ONTOLOGY_TYPES[tname]
    mentions_py = [m for m in bundle.mentions if m["label"] == tname]
    terms_py = bundle.terms

    conv, failed = oracle.match(mentions_py, bundle.xref_edges, otype, strategy)
    exp_fmt, exp_failed = oracle.format_output(
        mentions_py, conv, failed, terms_py, otype, strategy
    )

    mentions = _load(spark, fixture_dir, "mentions").where(F.col("label") == tname)
    edges = _load(spark, fixture_dir, "xref_edges")
    terms = _load(spark, fixture_dir, "ontology_terms")
    got_fmt, got_failed = link_mentions(mentions, edges, terms, otype, strategy)

    assert _spark_rows(got_fmt, FORMATTED_COLUMNS) == _oracle_rows(
        exp_fmt, FORMATTED_COLUMNS
    )
    assert _spark_rows(got_failed, FAILED_COLUMNS) == _oracle_rows(
        exp_failed, FAILED_COLUMNS
    )


@pytest.mark.parametrize(
    "tname,strategy",
    [
        pytest.param("Gene", Strategy.MIXTURE, id="Gene"),
        pytest.param("Disease", Strategy.MIXTURE, id="Disease"),
        pytest.param("Gene", Strategy.UNIQUE, id="Gene-Unique"),
    ],
)
def test_multi_null_id_mention_parity(spark, bundle, fixture_dir, tname, strategy):
    """A NULL-id mention fails validation with 'Invalid id format'.
    Under MIXTURE it is rescued; under UNIQUE it is a failed row (its
    prefix is not the default namespace). Either way no raw record
    joins to it, yet it keeps its type label, as in the oracle. Both
    sides' NULLs read as '' (the oracle's own id is None)."""
    otype = ONTOLOGY_TYPES[tname]
    null_row = {c: None for c in MENTIONS.fieldNames()} | {"label": tname}
    mentions_py = [m for m in bundle.mentions if m["label"] == tname] + [null_row]
    conv, failed = oracle.match(mentions_py, bundle.xref_edges, otype, strategy)
    exp_fmt, exp_failed = oracle.format_output(
        mentions_py, conv, failed, bundle.terms, otype, strategy
    )

    mentions = spark.createDataFrame(
        [tuple(m[c] for c in MENTIONS.fieldNames()) for m in mentions_py], MENTIONS
    )
    got_fmt, got_failed = link_mentions_multi(
        mentions,
        _load(spark, fixture_dir, "xref_edges"),
        _load(spark, fixture_dir, "ontology_terms"),
        {tname: otype},
        strategy,
    )

    def rows(df, cols):
        return sorted(tuple(r[c] or "" for c in cols) for r in df.collect())

    got, got_f = rows(got_fmt, FORMATTED_COLUMNS), rows(got_failed, FAILED_COLUMNS)
    if strategy == Strategy.MIXTURE:
        assert ("", "", tname, "", "", "", "", "", "", "") in got
    else:
        assert ("", "", tname, "", "", "", "", "", "", oracle.R_BAD_FORMAT) in got_f
    assert got == _oracle_rows(exp_fmt, FORMATTED_COLUMNS)
    assert got_f == _oracle_rows(exp_failed, FAILED_COLUMNS)


def test_edge_cases_present(bundle):
    """The fixture must actually exercise every routing branch."""
    for tname, otype in ONTOLOGY_TYPES.items():
        mentions_py = [m for m in bundle.mentions if m["label"] == tname]
        conv, failed = oracle.match(mentions_py, bundle.xref_edges, otype)
        reasons = {f["reason"] for f in failed}
        assert oracle.R_NO_RESULTS in reasons, tname
        assert oracle.R_MULTI in reasons, tname
        assert oracle.R_BAD_PREFIX in reasons, tname
        assert oracle.R_BAD_FORMAT in reasons, tname
        assert any(c.get(otype.default) is None for c in conv), tname  # id=None path
        assert len(conv) > 10, tname
