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
from ontology_matcher_spark.schemas import (
    FAILED_COLUMNS,
    FORMATTED_COLUMNS,
    MENTIONS,
    ONTOLOGY_TERMS,
    XREF_EDGES,
)


def _spark_rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _oracle_rows(rows, cols):
    return sorted(tuple(r.get(c, "") or "" for c in cols) for r in rows)


def _assert_matches_oracle(got_fmt, got_failed, mentions, edges, terms, strategy):
    """Spark outputs == the union over labels of the oracle's per-type
    runs over the same mention, edge and term dicts."""
    exp_fmt, exp_failed = [], []
    for tname, otype in ONTOLOGY_TYPES.items():
        mentions_py = [m for m in mentions if m["label"] == tname]
        conv, failed = oracle.match(mentions_py, edges, otype, strategy)
        fmt, failed_fmt = oracle.format_output(
            mentions_py, conv, failed, terms, otype, strategy
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
def test_multi_equals_per_type_union(spark, bundle, fixture_dir, strategy):
    mentions, edges, terms = (
        spark.read.parquet(os.path.join(fixture_dir, f"{n}.parquet"))
        for n in ("mentions", "xref_edges", "ontology_terms")
    )
    got_fmt, got_failed = link_mentions_multi(
        mentions, edges, terms, ONTOLOGY_TYPES, strategy
    )
    _assert_matches_oracle(
        got_fmt, got_failed, bundle.mentions, bundle.xref_edges, bundle.terms,
        strategy,
    )


#: xref edges of two ids whose neighbours lie in namespaces several
#: types share (the fixture corpus keeps every type's curies apart).
#: MESH belongs to four types and UMLS to four; HMDB and DrugBank to
#: Compound and Metabolite. Each id also has an own-namespace edge,
#: and a namespace with two candidates in some types but not others.
_SHARED_EDGES = [
    ("MESH:D001", "MONDO:0000010"),
    ("MESH:D001", "UMLS:C0001"),
    ("MESH:D001", "HMDB:H001"),
    ("MESH:D001", "DrugBank:DB002"),
    ("MESH:D001", "MESH:D002"),
    ("MESH:D001", "DOID:7"),
    ("MESH:D001", "DOID:8"),
    ("DrugBank:DB001", "MONDO:0000011"),
    ("DrugBank:DB001", "MONDO:0000012"),
    ("DrugBank:DB001", "UMLS:C0003"),
    ("DrugBank:DB001", "HMDB:H002"),
    ("DrugBank:DB001", "HMDB:H003"),
    ("DrugBank:DB001", "DrugBank:DB003"),
    ("DrugBank:DB001", "MESH:D003"),
    ("ENTREZ:100", "HGNC:5"),
    ("ENTREZ:100", "ENSEMBL:ENSG1"),
]

#: (curie, label, name, synonyms, description, symbol, xrefs)
_SHARED_TERMS = [
    ("MONDO:0000010", "Disease", "disease ten", ["dz10"], "a disease", "", ["OMIM:1"]),
    ("UMLS:C0001", "Symptom", "symptom one", [], "", "", []),
    ("HMDB:H001", "Metabolite", "metabolite one", ["m1"], "", "", []),
    ("DrugBank:DB002", "Compound", "compound two", [], "a drug", "", ["CHEBI:2"]),
    ("DrugBank:DB001", "Compound", "compound one", ["c1"], "", "", []),
    ("ENTREZ:100", "Gene", "gene hundred", ["g100"], "a gene", "GH1", []),
]


@pytest.mark.parametrize("strategy", [Strategy.MIXTURE, Strategy.UNIQUE])
def test_shared_namespaces_route_per_label(spark, strategy):
    """One source curie whose edges land in several types' namespaces
    is routed once per label, each under its own type: MESH:D001 and
    DrugBank:DB001 are mentioned as Disease, Compound, Metabolite and
    Symptom (DrugBank is no Disease or Symptom prefix), MESH:D001 also
    as Gene (no Gene prefix), next to a Gene control row."""
    edges = [
        {
            "src_curie": s, "dst_curie": d, "src_ns": s.split(":")[0],
            "dst_ns": d.split(":")[0], "label": "", "distance": 1,
        }
        for s, d in _SHARED_EDGES
    ]
    terms = [
        {
            "ns": c.split(":")[0], "local_id": c.split(":", 1)[1], "curie": c,
            "label": label, "name": name, "normalized_name": name.lower(),
            "synonyms": syn, "description": desc, "taxid": "", "symbol": sym,
            "xrefs": xrefs, "pmids": [], "parent_curie": "",
        }
        for c, label, name, syn, desc, sym, xrefs in _SHARED_TERMS
    ]
    mentions = [
        {
            "id": mid, "name": f"{mid} as {label}", "label": label,
            "resource": "r", "description": "", "synonyms": "s1|s2",
            "pmids": "", "taxid": "", "xrefs": "QQQ:1",
        }
        for mid in ("MESH:D001", "DrugBank:DB001")
        for label in ("Disease", "Compound", "Metabolite", "Symptom")
    ]
    mentions += [
        {**mentions[0], "label": "Gene", "name": "mesh as gene"},
        {**mentions[0], "id": "ENTREZ:100", "label": "Gene", "name": "gene"},
    ]

    def frame(rows, schema):
        return spark.createDataFrame(
            [tuple(r[f.name] for f in schema.fields) for r in rows], schema
        )

    got_fmt, got_failed = link_mentions_multi(
        frame(mentions, MENTIONS), frame(edges, XREF_EDGES),
        frame(terms, ONTOLOGY_TERMS), ONTOLOGY_TYPES, strategy,
    )
    _assert_matches_oracle(got_fmt, got_failed, mentions, edges, terms, strategy)
    # one curie converts under some labels and fails under others
    ids = {r["id"] for r in got_fmt.collect()}
    assert {"DrugBank:DB002", "HMDB:H001", "UMLS:C0001", "ENTREZ:100"} <= ids
    if strategy == Strategy.UNIQUE:
        assert {r["reason"] for r in got_failed.collect()} == {
            oracle.R_BAD_PREFIX, oracle.R_MULTI, oracle.R_UNIQUE_MULTI
        }
    else:
        assert "MONDO:0000010" in ids


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
    """Building the five-type plan stays cheap on the driver: the
    expressions are SQL text, one F.expr/selectExpr per projection, so
    the call makes O(projections) py4j round trips. Built Column node by
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


def test_linking_plans_have_no_per_label_code(spark, fixture_dir):
    """The five-type plans hold the type config as a joined table: no
    label-equality CASE and no per-namespace flattened candidate
    columns (``c_<i>``/``a_<i>``) in the optimized plans."""
    import re

    mentions, edges, terms = (
        spark.read.parquet(os.path.join(fixture_dir, f"{n}.parquet"))
        for n in ("mentions", "xref_edges", "ontology_terms")
    )
    for df in link_mentions_multi(
        mentions, edges, terms, ONTOLOGY_TYPES, Strategy.UNIQUE
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert not re.search(r"CASE WHEN \(m?label = ", plan)
        assert not re.search(r"\b[ca]_\d+\b", plan)
