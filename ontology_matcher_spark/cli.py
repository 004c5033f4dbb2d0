"""User-facing CLI — the Spark analog of the reference's `onto-match`
entry points (/root/reference/ontology_matcher/cli.py:55-330):

  ontology  — convert ontology ids: mention TSV/CSV → formatted TSV
              (+ .failed.tsv, optional .json), cli.py:55-165
  dedup     — find duplicated ids in a formatted TSV and merge them,
              cli.py:168-296
  idtypes   — list the accepted id namespaces of a type, cli.py:299-312
  template  — write an input-file template, cli.py:315-330
  pipeline  — full KG build (docs+mentions → triples), the distributed
              superset the reference has no analog for

No network: where the reference fetches dictionaries from MyGene/
MyDisease/OLS4 at match time, we join against a local dictionary
directory holding `xref_edges.parquet` and `ontology_terms.parquet`
(the same tables a real deployment materializes once from the raw
ontology releases — see operators/dictionary_build.py).

argparse, not click (click is not a guaranteed dependency here);
option names mirror the reference's long forms.
"""

from __future__ import annotations

import argparse
import os
import sys

from ontology_matcher_spark.ontology_types import ONTOLOGY_TYPES, Strategy

#: template rows per type — verbatim from the reference's
#: <type>/custom_types.py generate_template bodies (symptom ships
#: header-only; its example rows are commented out in the reference)
_TEMPLATE_ROWS: dict[str, list[str]] = {
    "Disease": [
        "DOID:4001\tovarian carcinoma\tDisease\tDOID",
        "MESH:D015673\tFatigue Syndrom, Chronic\tDisease\tDOID",
    ],
    "Gene": [
        "ENTREZ:7157\ttumor protein p53\tGene\tENTREZ",
        "ENTREZ:7100\ttoll like receptor 5\tGene\tENTREZ",
        "HGNC:11998\targinine vasopressin\tGene\tHGNC",
    ],
    "Compound": [
        "DrugBank:DB01628\tETORICOXIB\tCompound\tDrugBank",
        "DrugBank:DB01627\tLincomycin\tCompound\tDrugBank",
    ],
    "Metabolite": [
        "HMDB:HMDB0003345\talpha-D-Glucose\tMetabolite\tHMDB",
    ],
    "Symptom": [],
}


def _get_spark(args):
    from ontology_matcher_spark.session import get_spark

    return get_spark("onto-match-spark", master=args.master)


def cmd_idtypes(args) -> int:
    otype = ONTOLOGY_TYPES[args.ontology_type]
    print("\n".join(otype.choices))
    return 0


def cmd_template(args) -> int:
    os.makedirs(os.path.dirname(args.output_file) or ".", exist_ok=True)
    with open(args.output_file, "w") as f:
        f.write("id\tname\tlabel\tresource\n")
        for row in _TEMPLATE_ROWS[args.ontology_type]:
            f.write(row + "\n")
    return 0


def cmd_ontology(args) -> int:
    from ontology_matcher_spark.operators.link_multi import link_mentions_multi
    from ontology_matcher_spark.plans.pipeline import link_mentions
    from ontology_matcher_spark.sources.io import read_mentions, write_formatted

    spark = _get_spark(args)
    mentions = read_mentions(spark, args.input_file)
    edges = spark.read.parquet(os.path.join(args.dictionary, "xref_edges.parquet"))
    terms = spark.read.parquet(
        os.path.join(args.dictionary, "ontology_terms.parquet")
    )
    strategy = Strategy(args.strategy)
    if args.ontology_type:
        formatted, failed = link_mentions(
            mentions, edges, terms, ONTOLOGY_TYPES[args.ontology_type], strategy
        )
    else:
        formatted, failed = link_mentions_multi(
            mentions, edges, terms, ONTOLOGY_TYPES, strategy
        )
    write_formatted(
        formatted,
        failed,
        args.output_file,
        single_file=not args.multi_file,
        json_path=(
            args.output_file.rsplit(".", 1)[0] + ".json" if args.json else None
        ),
    )
    return 0


def cmd_dedup(args) -> int:
    from ontology_matcher_spark.operators.dedup_entities import dedup_entities
    from ontology_matcher_spark.sources.io import _write_tsv, read_mentions

    from pyspark.sql import functions as F

    spark = _get_spark(args)
    formatted = read_mentions(spark, args.input_file)
    if "raw_id" not in formatted.columns:
        formatted = formatted.withColumn("raw_id", F.lit(""))
    otype = ONTOLOGY_TYPES[args.ontology_type]
    out = dedup_entities(formatted, otype)
    _write_tsv(out, args.output_file, single_file=not args.multi_file)
    return 0


def cmd_pipeline(args) -> int:
    from ontology_matcher_spark.plans.pipeline import run_pipeline

    spark = _get_spark(args)
    triples = run_pipeline(
        spark,
        args.fixtures,
        args.out,
        strategy=Strategy(args.strategy),
        num_partitions=args.num_partitions,
        detect_documents=args.detect_documents,
        partition_stats=args.partition_stats,
    )
    print(f"triples: {triples.count()}")
    return 0


def cmd_dictbuild(args) -> int:
    """Build the detection-dictionary artifact as a standalone job —
    the 'dedicated build job' the per-run pipeline then only reads."""
    from ontology_matcher_spark.operators.dictionary_build import (
        write_detection_artifact,
    )

    spark = _get_spark(args)
    terms = spark.read.parquet(
        os.path.join(args.dictionary, "ontology_terms.parquet")
    )
    edges_path = os.path.join(args.dictionary, "xref_edges.parquet")
    edges = spark.read.parquet(edges_path) if os.path.exists(edges_path) else None
    write_detection_artifact(terms, args.out, edges)
    print(f"artifact: {args.out}")
    return 0


def cmd_detect(args) -> int:
    """Dictionary mention detection over a documents parquet with a
    prebuilt artifact → mention-table parquet (tie-break ladder
    applied; one winner per (doc, span, surface))."""
    from ontology_matcher_spark.operators.mention_detect import (
        best_candidate_per_mention,
        detect_mentions,
    )

    spark = _get_spark(args)
    docs = spark.read.parquet(args.documents)
    if args.num_partitions:
        docs = docs.repartition(args.num_partitions)
    best = best_candidate_per_mention(detect_mentions(docs, args.artifact))
    best.write.mode("overwrite").parquet(args.out)
    print(f"mentions: {args.out}")
    return 0


def cmd_annindex(args) -> int:
    """Materialize the cluster-partitioned IVF serving index from an
    embeddings parquet (vec_id, embedding) — the build-job half of the
    probe path (similarity.train_ivf_centroids + write_ivf_index)."""
    from ontology_matcher_spark.operators.similarity import (
        train_ivf_centroids,
        write_ivf_index,
    )

    spark = _get_spark(args)
    vectors = spark.read.parquet(args.embeddings)
    centroids = train_ivf_centroids(
        vectors, n_centroids=args.centroids, seed=args.seed
    )
    write_ivf_index(vectors, centroids, args.out)
    print(f"ann index: {args.out}")
    return 0


def cmd_annprobe(args) -> int:
    """Top-k probe against an annindex layout; queries = the first N
    vectors of a parquet (or a dedicated query parquet with
    query_id/query_vec columns)."""
    from pyspark.sql import functions as F

    from ontology_matcher_spark.operators.similarity import ivf_probe

    spark = _get_spark(args)
    q = spark.read.parquet(args.queries)
    if "query_vec" not in q.columns:  # embeddings-table shape
        q = q.limit(args.num_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    res = ivf_probe(spark, args.index, q, k=args.k, nprobe=args.nprobe)
    res.write.mode("overwrite").parquet(args.out)
    print(f"topk: {args.out}")
    return 0


def cmd_mediaembed(args) -> int:
    """Media feature extraction over a documents parquet: stdlib
    PNG/BMP/GIF pixel decode → per-channel histogram embeddings
    (multimodal.extract_media_embeddings)."""
    from ontology_matcher_spark.operators.multimodal import (
        extract_media_embeddings,
    )

    spark = _get_spark(args)
    docs = spark.read.parquet(args.documents)
    if args.num_partitions:
        docs = docs.repartition(args.num_partitions)
    extract_media_embeddings(docs, bins=args.bins).write.mode(
        "overwrite"
    ).parquet(args.out)
    print(f"media features: {args.out}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="onto-match-spark",
        description="PySpark-native ontology matcher / KG builder",
    )
    p.add_argument("--master", default=None, help="Spark master override")
    sub = p.add_subparsers(dest="command", required=True)

    po = sub.add_parser("ontology", help="Convert ontology ids.")
    po.add_argument("--input-file", "-i", required=True)
    po.add_argument("--output-file", "-o", required=True)
    po.add_argument(
        "--ontology-type", "-O", choices=sorted(ONTOLOGY_TYPES), default=None,
        help="Restrict to one type (default: route per the label column)",
    )
    po.add_argument("--dictionary", "-D", required=True,
                    help="Dir with xref_edges.parquet + ontology_terms.parquet")
    po.add_argument("--strategy", "-s", choices=[s.value for s in Strategy],
                    default=Strategy.MIXTURE.value)
    po.add_argument("--json", action="store_true",
                    help="Also write a JSON-lines export of the formatted rows")
    po.add_argument("--multi-file", action="store_true",
                    help="Write a part-file directory instead of one TSV")
    po.set_defaults(fn=cmd_ontology)

    pd = sub.add_parser(
        "dedup", help="Find the duplicated ids and merge them into one."
    )
    pd.add_argument("--input-file", "-i", required=True)
    pd.add_argument("--output-file", "-o", required=True)
    pd.add_argument("--ontology-type", "-O", choices=sorted(ONTOLOGY_TYPES),
                    required=True)
    pd.add_argument("--multi-file", action="store_true")
    pd.set_defaults(fn=cmd_dedup)

    pi = sub.add_parser("idtypes", help="Which ID types are supported.")
    pi.add_argument("--ontology-type", "-O", choices=sorted(ONTOLOGY_TYPES),
                    required=True)
    pi.set_defaults(fn=cmd_idtypes)

    pt = sub.add_parser("template", help="Generate input file template")
    pt.add_argument("--output-file", "-o", required=True)
    pt.add_argument("--ontology-type", "-O", choices=sorted(ONTOLOGY_TYPES),
                    required=True)
    pt.set_defaults(fn=cmd_template)

    pp = sub.add_parser("pipeline", help="Full KG build → triples parquet")
    pp.add_argument("--fixtures", required=True,
                    help="Dir with mentions/xref_edges/ontology_terms parquet")
    pp.add_argument("--out", required=True)
    pp.add_argument("--strategy", choices=[s.value for s in Strategy],
                    default=Strategy.MIXTURE.value)
    pp.add_argument("--num-partitions", type=int, default=None)
    pp.add_argument("--detect-documents", action="store_true",
                    help="Prepend dictionary mention detection over "
                         "documents.parquet as a checkpointed stage")
    pp.add_argument("--partition-stats", action="store_true",
                    help="Record per-partition row counts into the "
                         "lineage table (skew observability)")
    pp.set_defaults(fn=cmd_pipeline)

    pb = sub.add_parser(
        "dictbuild",
        help="Build the detection-dictionary artifact (distributed)",
    )
    pb.add_argument("--dictionary", "-D", required=True,
                    help="Dir with ontology_terms.parquet (+ xref_edges.parquet)")
    pb.add_argument("--out", "-o", required=True, help="Artifact output dir")
    pb.set_defaults(fn=cmd_dictbuild)

    pde = sub.add_parser(
        "detect", help="Dictionary mention detection over documents"
    )
    pde.add_argument("--documents", "-i", required=True,
                     help="Interleaved documents parquet (doc_id, spans)")
    pde.add_argument("--artifact", "-a", required=True,
                     help="Prebuilt detection artifact (see dictbuild)")
    pde.add_argument("--out", "-o", required=True, help="Mention parquet out")
    pde.add_argument("--num-partitions", type=int, default=None)
    pde.set_defaults(fn=cmd_detect)

    pai = sub.add_parser(
        "annindex", help="Build a cluster-partitioned IVF ANN index"
    )
    pai.add_argument("--embeddings", "-i", required=True,
                     help="Embeddings parquet (vec_id, embedding)")
    pai.add_argument("--out", "-o", required=True, help="Index directory")
    pai.add_argument("--centroids", type=int, default=64,
                     help="IVF clusters (one index partition each)")
    pai.add_argument("--seed", type=int, default=42)
    pai.set_defaults(fn=cmd_annindex)

    pap = sub.add_parser("annprobe", help="Top-k probe vs an annindex")
    pap.add_argument("--index", "-x", required=True, help="annindex dir")
    pap.add_argument("--queries", "-q", required=True,
                     help="Query parquet (query_id/query_vec, or an "
                          "embeddings parquet — first N rows used)")
    pap.add_argument("--num-queries", type=int, default=100)
    pap.add_argument("--k", type=int, default=10)
    pap.add_argument("--nprobe", type=int, default=4,
                     help="Nearest clusters read per query (recall)")
    pap.add_argument("--out", "-o", required=True, help="Top-k parquet out")
    pap.set_defaults(fn=cmd_annprobe)

    pme = sub.add_parser(
        "mediaembed", help="Media pixel decode → histogram embeddings"
    )
    pme.add_argument("--documents", "-i", required=True,
                     help="Interleaved documents parquet (doc_id, spans)")
    pme.add_argument("--out", "-o", required=True, help="Features parquet out")
    pme.add_argument("--bins", type=int, default=8)
    pme.add_argument("--num-partitions", type=int, default=None)
    pme.set_defaults(fn=cmd_mediaembed)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
