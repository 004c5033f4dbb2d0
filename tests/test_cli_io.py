"""CLI entry points + file sources/sinks (SURVEY.md §2.1 S1-S3, S9).

Exercises the reference's user-facing surface: template generation,
idtypes listing, TSV read semantics (null-id drop, NaN fill, extra
columns tolerated), the ontology command end-to-end against the
fixture dictionary, and the distributed TSV/JSON sinks."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ontology_matcher_spark.cli import main
from ontology_matcher_spark.sources.io import read_mentions, write_formatted


@pytest.fixture(scope="module")
def mention_tsv(spark, fixture_dir, tmp_path_factory):
    """Fixture mentions as a reference-shaped TSV (plus junk rows that
    the reader must drop/normalize, and an extra column to tolerate)."""
    d = tmp_path_factory.mktemp("cli")
    path = str(d / "mentions.tsv")
    rows = (
        spark.read.parquet(os.path.join(fixture_dir, "mentions.parquet"))
        .where(F.col("label") == "Gene")
        .select(
            "id", "name", "label", "resource", "description",
            "synonyms", "pmids", "taxid", "xrefs",
        )
        .limit(40)
        .collect()
    )
    with open(path, "w") as f:
        f.write(
            "id\tname\tlabel\tresource\tdescription\tsynonyms\tpmids"
            "\ttaxid\txrefs\textra_col\n"
        )
        for r in rows:
            f.write("\t".join((r[c] or "") for c in r.asDict()) + "\tjunk\n")
        # null-id row: must be dropped by the reader
        f.write("\tno id here\tGene\tENTREZ\t\t\t\t\t\tjunk\n")
    return path


def test_read_mentions_semantics(spark, mention_tsv):
    df = read_mentions(spark, mention_tsv)
    rows = df.collect()
    assert len(rows) == 40  # null-id row dropped
    assert "extra_col" in df.columns  # extra columns tolerated
    for r in rows:
        assert r["id"]  # no nulls survived
        for c in ("description", "synonyms", "pmids", "taxid", "xrefs"):
            assert r[c] is not None  # NaN → ""


def test_write_formatted_tsv_and_json(spark, fixture_dir, tmp_path):
    fmt = (
        spark.read.parquet(os.path.join(fixture_dir, "mentions.parquet"))
        .limit(5)
        .select("id", "name", "label", "resource")
    )
    empty = fmt.where(F.lit(False))
    out = str(tmp_path / "out.tsv")
    write_formatted(fmt, empty, out, json_path=str(tmp_path / "out.json"))
    with open(out) as f:
        lines = f.read().strip().split("\n")
    assert lines[0] == "id\tname\tlabel\tresource"
    assert len(lines) == 6
    # empty failed side still writes a header-only file
    with open(str(tmp_path / "out.failed.tsv")) as f:
        assert f.read().strip() == "id\tname\tlabel\tresource"
    with open(str(tmp_path / "out.json")) as f:
        recs = [json.loads(line) for line in f if line.strip()]
    assert len(recs) == 5 and all("id" in r for r in recs)


def test_cli_idtypes_and_template(tmp_path, capsys):
    assert main(["idtypes", "--ontology-type", "Gene"]) == 0
    out = capsys.readouterr().out.strip().split("\n")
    assert out == ["ENTREZ", "ENSEMBL", "HGNC", "MGI", "SYMBOL", "UNIPROT"]

    tpl = str(tmp_path / "tpl.tsv")
    assert main(["template", "--ontology-type", "Disease", "-o", tpl]) == 0
    with open(tpl) as f:
        lines = f.read().strip().split("\n")
    assert lines[0] == "id\tname\tlabel\tresource"
    assert lines[1].startswith("DOID:4001\t")


def test_cli_ontology_end_to_end(spark, fixture_dir, mention_tsv, tmp_path):
    """onto-match ontology: TSV in → formatted TSV + failed + JSON out,
    matching the in-process linking of the same rows."""
    out = str(tmp_path / "gene_formatted.tsv")
    rc = main(
        [
            "ontology",
            "-i", mention_tsv,
            "-o", out,
            "-O", "Gene",
            "--dictionary", fixture_dir,
            "--json",
        ]
    )
    assert rc == 0
    with open(out) as f:
        header = f.readline().strip().split("\t")
        n_rows = sum(1 for _ in f)
    assert header == [
        "id", "name", "label", "resource", "description",
        "synonyms", "pmids", "taxid", "xrefs", "raw_id",
    ]
    assert os.path.exists(str(tmp_path / "gene_formatted.failed.tsv"))
    assert os.path.exists(str(tmp_path / "gene_formatted.json"))

    from ontology_matcher_spark.ontology_types import ONTOLOGY_TYPES
    from ontology_matcher_spark.operators.link_multi import link_mentions_multi

    mentions = read_mentions(spark, mention_tsv)
    edges = spark.read.parquet(os.path.join(fixture_dir, "xref_edges.parquet"))
    terms = spark.read.parquet(os.path.join(fixture_dir, "ontology_terms.parquet"))
    fmt, _ = link_mentions_multi(
        mentions, edges, terms, {"Gene": ONTOLOGY_TYPES["Gene"]}
    )
    assert n_rows == fmt.count()


def test_write_table_backend_routing(spark, tmp_path, monkeypatch):
    """write_table: parquet directory layout by default; with an
    Iceberg catalog configured it routes through DataFrameWriterV2
    (kg.<name>, identity partitioning, append vs replace). The sandbox
    has no Iceberg jars, so the catalog write is exercised against a
    recording stand-in — the routing, naming, and partition spec are
    what this pins."""
    import os as _os

    from ontology_matcher_spark.sources.io import iceberg_available, write_table

    df = spark.createDataFrame(
        [("a", "Gene"), ("b", "Disease")], ["id", "label"]
    )

    # parquet fallback: partitioned directory, readable back
    assert not iceberg_available(spark)
    p = write_table(df, str(tmp_path), "t1", partition_by=["label"])
    assert _os.path.isdir(_os.path.join(p, "label=Gene"))
    assert spark.read.parquet(p).count() == 2

    # catalog branch
    calls = []

    class FakeV2Writer:
        def __init__(self, ident):
            self.ident = ident

        def using(self, fmt):
            calls.append(("using", fmt))
            return self

        def partitionedBy(self, *cols):
            calls.append(("partitionedBy", len(cols)))
            return self

        def createOrReplace(self):
            calls.append(("createOrReplace", self.ident))

        def append(self):
            calls.append(("append", self.ident))

    # patch the CONCRETE class (pyspark.sql.classic.dataframe.DataFrame
    # in Spark 4 — pyspark.sql.DataFrame is only the facade)
    monkeypatch.setattr(type(df), "writeTo", lambda self, ident: FakeV2Writer(ident))
    spark.conf.set("spark.sql.catalog.kg", "org.apache.iceberg.spark.SparkCatalog")
    try:
        assert iceberg_available(spark)
        ident = write_table(df, str(tmp_path), "t2", partition_by=["label"])
        assert ident == "kg.t2"
        assert ("using", "iceberg") in calls
        assert ("partitionedBy", 1) in calls
        assert ("createOrReplace", "kg.t2") in calls
        write_table(df, str(tmp_path), "t2", mode="append")
        assert ("append", "kg.t2") in calls
    finally:
        spark.conf.unset("spark.sql.catalog.kg")


def test_write_tsv_empty_fields_serialize_empty(spark, tmp_path):
    """Spark's CSV writer default would serialize '' as the literal
    two-character string '""' — formatted outputs are full of empty
    fields (raw_id on rescued rows, description, taxid), and the
    reference's pandas to_csv writes them EMPTY. Pin the byte shape."""
    df = spark.createDataFrame(
        [("MONDO:1", "", "Disease", "", "", "", "", "", "", "")],
        "id string, name string, label string, resource string, "
        "description string, synonyms string, pmids string, taxid string, "
        "xrefs string, raw_id string",
    )
    out = str(tmp_path / "e.tsv")
    write_formatted(df, df.where(F.lit(False)), out)
    with open(out) as f:
        lines = f.read().rstrip("\n").split("\n")
    assert lines[1] == "MONDO:1\t\tDisease" + "\t" * 7
    assert '""' not in lines[1]


def test_cli_dictbuild_and_detect(spark, fixture_dir, tmp_path):
    """dictbuild → detect as standalone CLI jobs: the artifact is a
    reusable build output; detection consumes it with no driver-side
    dictionary collect and emits one winner per (doc, span, surface)."""
    art = str(tmp_path / "artifact")
    out = str(tmp_path / "mentions_out")
    assert main(["dictbuild", "-D", fixture_dir, "-o", art]) == 0
    assert os.path.exists(os.path.join(art, "surfaces", "_SUCCESS"))
    assert main([
        "detect", "-i", os.path.join(fixture_dir, "documents.parquet"),
        "-a", art, "-o", out,
    ]) == 0
    got = spark.read.parquet(out)
    rows = got.collect()
    assert len(rows) > 100
    keys = [(r["doc_id"], r["span_idx"], r["surface"]) for r in rows]
    assert len(keys) == len(set(keys))  # tie-break ladder applied


def test_pipeline_detect_documents_resumable(spark, fixture_dir, tmp_path):
    """run_pipeline(detect_documents=True): detection is a checkpointed
    stage; a re-run resumes from the manifest without recomputing and
    returns the identical triple set."""
    from ontology_matcher_spark.plans.pipeline import run_pipeline

    out = str(tmp_path / "kgout")
    t1 = run_pipeline(spark, fixture_dir, out, detect_documents=True)
    rows1 = {(r["subj"], r["pred"], r["obj"]) for r in t1.collect()}
    assert os.path.exists(os.path.join(out, "stages", "detected"))
    detected = spark.read.parquet(os.path.join(out, "stages", "detected"))
    assert detected.count() > 0
    t2 = run_pipeline(spark, fixture_dir, out, detect_documents=True)
    rows2 = {(r["subj"], r["pred"], r["obj"]) for r in t2.collect()}
    assert rows1 == rows2
    # detector-derived links actually reached the triple set
    assert any(s.startswith("doc") or p == "skos:exactMatch" for s, p, o in rows1)


def test_cli_annindex_probe_mediaembed(spark, tmp_path):
    """annindex → annprobe as standalone CLI jobs over a tiny
    embeddings parquet, plus mediaembed over byte-backed media spans."""
    import numpy as np

    rng = np.random.default_rng(23)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    src = str(tmp_path / "emb.parquet")
    emb.write.parquet(src)
    idx = str(tmp_path / "annidx")
    topk = str(tmp_path / "topk")
    assert main(["annindex", "-i", src, "-o", idx, "--centroids", "4"]) == 0
    assert os.path.exists(os.path.join(idx, "_IVF_META.json"))
    assert main(["annprobe", "-x", idx, "-q", src, "--num-queries", "3",
                 "--k", "4", "--nprobe", "1", "-o", topk]) == 0
    got = spark.read.parquet(topk)
    rows = got.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2}
    # a query's first probed cluster is the one its own vector was
    # indexed under, so the vector is its own rank-1 neighbour
    r1 = {r["query_id"]: r["id"] for r in rows if r["rank"] == 1}
    assert r1 == {0: 0, 1: 1, 2: 2}

    media = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures", "media",
    )
    docs = spark.createDataFrame(
        [("d0", [{"kind": "image", "text": "",
                  "media_ref": f"file://{media}/tiny.png", "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    dsrc = str(tmp_path / "docs.parquet")
    docs.write.parquet(dsrc)
    mout = str(tmp_path / "media_feats")
    assert main(["mediaembed", "-i", dsrc, "-o", mout]) == 0
    feats = spark.read.parquet(mout).collect()
    assert len(feats) == 1 and len(feats[0]["features"]) == 24
