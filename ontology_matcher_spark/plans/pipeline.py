"""The end-to-end KG-construction plan (SURVEY.md §7 architecture).

docs ──[1] mention_detect──┐
mentions TSV ──[2] validate─┤
                            ├─[3] candidate broadcast join
ontology dicts (broadcast) ─┘       │
                            [4] tie-break routing (§2.8 rules 1-4)
                            [5] metadata enrich + format (rules 5-7)
                            [6] CC canonicalize (large-star/small-star)
                            [7] triples materialize (partitioned)

Each numbered stage is checkpointable: `run_pipeline` writes one
parquet table per stage under ``<out>/stages/`` plus a manifest, and a
re-run skips completed stages (idempotent resume — the Spark analog of
the reference's JSON checkpoint + --reformat,
/root/reference/ontology_matcher/cli.py:127-148). Per-stage row
counters are collected with ``df.observe`` and appended to a lineage
table (SURVEY.md §4 item 4).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from ontology_matcher_spark.functions.arrays import split_pipe
from ontology_matcher_spark.functions.materialize import materialize
from ontology_matcher_spark.ontology_types import (
    ONTOLOGY_TYPES,
    OntologyType,
    Strategy,
)
from ontology_matcher_spark.operators import link_multi


def link_mentions(
    mentions: DataFrame,
    xref_edges: DataFrame,
    terms: DataFrame,
    otype: OntologyType,
    strategy: Strategy = Strategy.MIXTURE,
) -> tuple[DataFrame, DataFrame]:
    """Stages 2-5 for one ontology type: mention table → (formatted,
    failed_formatted). Every row is linked as ``otype`` (its label is
    pinned), by the same stages as the multi-type run."""
    pinned, tt = link_multi.single_type(mentions, otype)
    return link_multi._link(pinned, tt, xref_edges, terms, strategy)


def xref_pairs(formatted: DataFrame) -> DataFrame:
    """xref edge list implied by a formatted output (id → each xref)."""
    return formatted.select(
        F.col("id").alias("src"),
        F.explode(split_pipe("xrefs")).alias("dst"),
    ).where(F.col("src") != F.col("dst"))


def build_triples_multi(
    formatted: DataFrame,
    terms: DataFrame,
    labels: list[str],
    canon: DataFrame,
) -> DataFrame:
    """Stage 6+7 over a MIXED-label formatted table in one plan: the
    mention table and formatted output are each scanned once for all
    entity types (at 10^12 docs a per-type loop's five scans are the
    bottleneck, not the compute).

    - mention → canonical-entity links (skos:exactMatch), canonical
      from the shared node→canonical map ``canon``
      (canonical_assignment_by_label);
    - entity → xref member edges;
    - term → parent is-a edges."""
    pairs = formatted.select(
        F.col("id").alias("src"),
        "label",
        F.explode(split_pipe("xrefs")).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    mention_links = formatted.join(canon, formatted.id == canon.node, "left").select(
        F.when(F.col("raw_id") != "", F.col("raw_id"))
        .otherwise(formatted.id)
        .alias("subj"),
        F.lit("skos:exactMatch").alias("pred"),
        F.coalesce(F.col("canonical"), formatted.id).alias("obj"),
        "label",
        F.lit("linker").alias("src"),
    )
    xref_triples = pairs.select(
        F.col("src").alias("subj"),
        F.lit("xref").alias("pred"),
        F.col("dst").alias("obj"),
        "label",
        F.lit("linker").alias("src"),
    )
    isa_triples = terms.where(
        F.col("label").isin(labels) & (F.col("parent_curie") != "")
    ).select(
        F.col("curie").alias("subj"),
        F.lit("is-a").alias("pred"),
        F.col("parent_curie").alias("obj"),
        "label",
        F.lit("dictionary").alias("src"),
    )
    # ONE distinct after the union instead of one per branch: the three
    # branches carry disjoint `pred` literals, so distinct-of-union ≡
    # union-of-distincts — 1 exchange instead of 3 (guide §2.4)
    return (
        mention_links.unionByName(xref_triples)
        .unionByName(isa_triples)
        .distinct()
    )


def detected_mentions_df(
    spark: SparkSession,
    documents: DataFrame,
    terms: DataFrame,
    xref_edges: DataFrame | None = None,
    artifact_dir: str | None = None,
) -> DataFrame:
    """Stage [1]: interleaved documents → mention-table rows.

    Dictionary detection (Arrow mapInArrow) against a DISTRIBUTED
    dictionary artifact: the surface/xref/fuzzy indexes are built as
    DataFrame jobs and written to parquet once
    (`write_detection_artifact`), then loaded lazily per executor —
    the driver never collects the term or edge tables (round-2's one
    true driver-side bottleneck; the reference gene corpus alone is
    589,823 terms). Best candidate per (doc, span, surface) via the
    tie-break ladder, then shaped like the reference's mention table
    so stages [2..7] apply unchanged. idx is offset by 10^12 so a
    user-supplied mention row always wins first-row-wins lookup.

    ``artifact_dir`` defaults to the session scratch dir; on a real
    cluster pass a shared-storage path (the artifact is the build
    job's output, reusable across runs)."""
    import os as _os
    import uuid as _uuid

    from ontology_matcher_spark.functions.materialize import scratch_root
    from ontology_matcher_spark.operators.dictionary_build import (
        write_detection_artifact,
    )
    from ontology_matcher_spark.operators.mention_detect import (
        best_candidate_per_mention,
        detect_mentions,
    )

    if artifact_dir is None:
        artifact_dir = _os.path.join(
            scratch_root(spark), f"detect-dict-{_uuid.uuid4().hex[:8]}"
        )
    # idempotent: a caller-supplied artifact_dir is REUSED only when
    # (a) every sub-table has its _SUCCESS marker AND (b) the stamped
    # _FINGERPRINT matches this run's dictionary input — the artifact
    # is keyed by what it was built FROM, so a path left over from a
    # different term/edge set is rebuilt, never silently served.
    # Existence/marker checks go through the Hadoop FileSystem, so the
    # shared-storage (HDFS/S3) reuse path works, not just local FS.
    from ontology_matcher_spark.functions.fs import fs_exists, fs_read_text
    from ontology_matcher_spark.operators.dictionary_build import (
        detection_input_fingerprint,
    )

    complete = all(
        fs_exists(spark, f"{artifact_dir}/{sub}/_SUCCESS")
        for sub in ("surfaces", "curies", "xrefs", "fuzzy")
    )
    if complete:
        want = detection_input_fingerprint(terms, xref_edges)
        have = fs_read_text(spark, f"{artifact_dir}/_FINGERPRINT")
        complete = have is not None and have.strip() == want
    if not complete:
        write_detection_artifact(terms, artifact_dir, xref_edges)
    best = best_candidate_per_mention(detect_mentions(documents, artifact_dir))
    labels = terms.select(
        F.col("curie").alias("id"), F.col("label").alias("t_label")
    ).groupBy("id").agg(F.min("t_label").alias("t_label"))
    return (
        best.join(F.broadcast(labels), "id", "left")
        .select(
            "id",
            F.col("surface").alias("name"),
            F.coalesce("t_label", F.lit("")).alias("label"),
            F.lit("detector").alias("resource"),
            F.lit("").alias("description"),
            F.lit("").alias("synonyms"),
            F.lit("").alias("pmids"),
            F.lit("").alias("taxid"),
            F.lit("").alias("xrefs"),
            (F.lit(10**12) + F.monotonically_increasing_id()).alias("idx"),
        )
    )


def build_pipeline_lazy(
    spark: SparkSession,
    fixture_dir: str,
    types: list[str] | None = None,
    strategy: Strategy = Strategy.MIXTURE,
    num_partitions: int | None = None,
    detect_documents: bool = False,
    replicate_docs: int = 1,
    detect_artifact_dir: str | None = None,
) -> DataFrame:
    """The same dataflow as run_pipeline but as ONE lazy DAG — no
    per-stage parquet materialization. Used for throughput/scaling
    measurement (the checkpointed variant adds constant-cost writes
    that belong to resumability, not the engine's compute path).
    Note: the CC loop inside canonical assignment still executes
    eagerly (driver loop)."""
    from ontology_matcher_spark.operators.canonicalize import (
        canonical_assignment_by_label,
    )

    mentions = spark.read.parquet(os.path.join(fixture_dir, "mentions.parquet"))
    if num_partitions:
        mentions = mentions.repartition(num_partitions)
    edges = spark.read.parquet(os.path.join(fixture_dir, "xref_edges.parquet"))
    terms = spark.read.parquet(os.path.join(fixture_dir, "ontology_terms.parquet"))
    if detect_documents:
        docs = spark.read.parquet(os.path.join(fixture_dir, "documents.parquet"))
        if replicate_docs > 1:
            # corpus scale-up by replication with re-suffixed ids
            # (FIXTURES.md: "bench base, then ×replication")
            docs = docs.withColumn(
                "__rep",
                F.explode(F.array(*[F.lit(i) for i in range(replicate_docs)])),
            ).withColumn(
                "doc_id", F.concat_ws("#", "doc_id", "__rep")
            ).drop("__rep")
        if num_partitions:
            docs = docs.repartition(num_partitions)
        # materialize: the linking DAG references the mention frame
        # several times (valid/records/failed branches) — without
        # materialization each branch re-runs the Python detection scan
        detected = materialize(
            detected_mentions_df(
                spark, docs, terms, edges, artifact_dir=detect_artifact_dir
            ),
            "detected",
        )
        mentions = mentions.unionByName(detected)
    tnames = types or list(ONTOLOGY_TYPES)
    sel_types = {t: ONTOLOGY_TYPES[t] for t in tnames}

    # ONE single-pass multi-type linking DAG (link_mentions_multi):
    # the mention table is scanned once for all entity types — the
    # round-1 per-type ThreadPoolExecutor variant scanned it five
    # times and its five concurrent jobs' serial tails capped scaling
    # efficiency at 0.19. formatted feeds BOTH the CC pass and the
    # triple build → one materialization.
    mentions = mentions.where(F.col("label").isin(tnames))
    formatted = link_multi.link_mentions_multi(
        mentions, edges, terms, sel_types, strategy
    )[0]
    # project BEFORE the materialize: the lazy path's only consumers
    # (xref_pairs + build_triples_multi) read {id, raw_id, label,
    # xrefs} — pruning here lets Catalyst skip computing the metadata
    # string columns entirely AND shrinks the round-trip bytes (the
    # materialize write is this sandbox's main non-scaling cost:
    # first-touch tmpfs pages run at ~4 MB/s). The checkpointed
    # run_pipeline still writes the full formatted table — that stage
    # IS the deliverable there; here it is an internal intermediate of
    # a triples-count job. n_triples is unaffected by construction.
    formatted = materialize(
        formatted.select("id", "raw_id", "label", "xrefs"), "formatted"
    )

    canon = canonical_assignment_by_label(
        xref_pairs(formatted), terms.select("curie", "label"), sel_types
    )
    # no materialize for canon: build_triples_multi consumes it once,
    # and its own inputs are already cheap to re-reference (the CC
    # mapping is either driver-created via the union-find fast path or
    # parquet-backed by the star loop; formatted is materialized above)
    # — dropping the round-trip removes one write+read job per run
    return build_triples_multi(formatted, terms, tnames, canon)


# ------------------------------------------------------------------ runner
class PipelineRun:
    """Checkpointed, resumable multi-stage run with lineage counters.

    ``partition_stats=True`` additionally records PER-PARTITION row
    statistics for every stage table (north rule: per-partition
    lineage rows): one lineage row for each of the TOP-K most-loaded
    written files (``partition_stats_topk``, default 16) plus
    partitions/min/max/total summaries — the operational skew signal
    (a hot entity shows up as one partition file holding orders of
    magnitude more rows than its siblings, which is exactly what a
    top-k-by-rows listing surfaces). The per-file aggregation and the
    top-k cut both run Spark-side, so the driver holds O(k) rows per
    stage regardless of file count — a stage writing tens of
    thousands of files at 100× scale no longer builds a driver-side
    array per stage. Costs one extra metadata-cheap scan of the stage
    output per stage; off by default on the hot bench path."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        run_id: str | None = None,
        partition_stats: bool = False,
        partition_stats_topk: int = 16,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.stage_dir = os.path.join(out_dir, "stages")
        self.manifest_path = os.path.join(out_dir, "_MANIFEST.json")
        os.makedirs(self.stage_dir, exist_ok=True)
        self.manifest = self._load_manifest()
        self.run_id = run_id or self.manifest.get("run_id") or uuid.uuid4().hex[:12]
        self.manifest.setdefault("run_id", self.run_id)
        self.manifest.setdefault("stages", {})
        self.lineage: list[dict] = []
        self.partition_stats = partition_stats
        self.partition_stats_topk = partition_stats_topk

    def _load_manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {}

    def _save_manifest(self) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=2)
        os.replace(tmp, self.manifest_path)  # atomic → idempotent resume

    def materialize(
        self,
        name: str,
        build,  # () -> DataFrame
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Run stage ``name`` unless its table already exists (resume),
        recording wall time + row count into the lineage."""
        path = os.path.join(self.stage_dir, name)
        if self.manifest["stages"].get(name) == "done" and os.path.exists(path):
            return self.spark.read.parquet(path)
        t0 = time.time()
        df = build()
        if partition_by:
            # cluster rows by the partition columns before a
            # partitionBy write: without it every write task opens a
            # file per partition value (tasks × values small files —
            # the round-5 formatted stage wrote ~320 files for 33k
            # rows, paid again by every downstream scan's listing).
            # REBALANCE is AQE-sized: it coalesces to the advisory
            # partition size locally and splits skewed partitions at
            # scale, so this is not a constant tuned for local mode.
            df = df.hint("rebalance", *partition_by)
        obs = Observation(f"obs_{name}_{uuid.uuid4().hex[:6]}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows_out"))
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        wall_ms = int((time.time() - t0) * 1000)
        rows = obs.get.get("rows_out", -1)
        self.lineage.append(
            {
                "run_id": self.run_id,
                "stage": name,
                "metric": "rows_out",
                "value": int(rows),
                "wall_ms": wall_ms,
                "input_fingerprint": "",
            }
        )
        out = self.spark.read.parquet(path)
        if self.partition_stats:
            # per-partition lineage: rows per written file (skew
            # signal). Summary aggregates and the top-k-by-rows cut
            # run Spark-side; only O(k) rows ever reach the driver.
            per_file = out.groupBy(F.input_file_name().alias("f")).agg(
                F.count(F.lit(1)).alias("n")
            )
            summary_row = per_file.agg(
                F.count(F.lit(1)).alias("parts"),
                F.coalesce(F.max("n"), F.lit(0)).alias("mx"),
                F.coalesce(F.min("n"), F.lit(0)).alias("mn"),
                F.coalesce(F.sum("n"), F.lit(0)).alias("tot"),
            ).first()
            top = per_file.orderBy(F.desc("n"), "f").limit(
                self.partition_stats_topk
            ).collect()
            for r in sorted(top, key=lambda r: r["f"]):
                self.lineage.append(
                    {
                        "run_id": self.run_id,
                        "stage": name,
                        "metric": "partition_rows",
                        "value": int(r["n"]),
                        "wall_ms": 0,
                        "input_fingerprint": os.path.basename(r["f"]),
                    }
                )
            for metric, v in (
                ("partitions", int(summary_row["parts"])),
                ("partition_rows_max", int(summary_row["mx"])),
                ("partition_rows_min", int(summary_row["mn"])),
                ("partition_rows_total", int(summary_row["tot"])),
            ):
                self.lineage.append(
                    {
                        "run_id": self.run_id,
                        "stage": name,
                        "metric": metric,
                        "value": int(v),
                        "wall_ms": 0,
                        "input_fingerprint": "",
                    }
                )
        self.manifest["stages"][name] = "done"
        self._save_manifest()
        return out

    def flush_lineage(self) -> None:
        if not self.lineage:
            return
        import pandas as pd

        path = os.path.join(self.out_dir, "lineage")
        self.spark.createDataFrame(pd.DataFrame(self.lineage)).write.mode(
            "append"
        ).parquet(path)
        self.lineage = []


def run_pipeline(
    spark: SparkSession,
    fixture_dir: str,
    out_dir: str,
    types: list[str] | None = None,
    strategy: Strategy = Strategy.MIXTURE,
    num_partitions: int | None = None,
    detect_documents: bool = False,
    partition_stats: bool = False,
    detect_artifact_dir: str | None = None,
) -> DataFrame:
    """Full batch run over fixture tables → triples table (returned).

    ``num_partitions``: explicit fan-out for the mention table. A
    cluster-scale corpus arrives in many files and partitions
    naturally; a single small parquet file scans as ONE task, so local
    benchmarking must repartition or every core but one idles.

    ``detect_documents``: prepend stage [1] — dictionary mention
    detection over ``documents.parquet`` — as its own checkpointed,
    resumable stage. ``detect_artifact_dir`` overrides where the
    detection artifact lives (default ``<out_dir>/detect_artifact``);
    either way it is reused across resumes AND across runs via its
    _SUCCESS markers + input fingerprint (detected_mentions_df).
    """
    run = PipelineRun(spark, out_dir, partition_stats=partition_stats)
    mentions = spark.read.parquet(os.path.join(fixture_dir, "mentions.parquet"))
    if num_partitions:
        mentions = mentions.repartition(num_partitions)
    edges = spark.read.parquet(os.path.join(fixture_dir, "xref_edges.parquet"))
    terms = spark.read.parquet(os.path.join(fixture_dir, "ontology_terms.parquet"))
    if detect_documents:
        docs = spark.read.parquet(os.path.join(fixture_dir, "documents.parquet"))
        if num_partitions:
            docs = docs.repartition(num_partitions)
        detected = run.materialize(
            "detected",
            lambda: detected_mentions_df(
                spark, docs, terms, edges,
                artifact_dir=detect_artifact_dir
                or os.path.join(out_dir, "detect_artifact"),
            ),
        )
        mentions = mentions.unionByName(detected)

    from ontology_matcher_spark.operators.canonicalize import (
        canonical_assignment_by_label,
    )

    tnames = types or list(ONTOLOGY_TYPES)
    sel_types = {t: ONTOLOGY_TYPES[t] for t in tnames}

    # ONE single-pass multi-type linking stage (mention table scanned
    # once for all entity types), partitioned by label so per-type
    # consumers prune partitions on read
    formatted = run.materialize(
        "formatted",
        lambda: link_multi.link_mentions_multi(
            mentions.where(F.col("label").isin(tnames)),
            edges,
            terms,
            sel_types,
            strategy,
        )[0],
        partition_by=["label"],
    )

    # ONE global CC stage across all entity types (a per-type CC loop
    # multiplies the serial driver-round latency by the type count)
    def _canon() -> DataFrame:
        return canonical_assignment_by_label(
            xref_pairs(formatted), terms.select("curie", "label"), sel_types
        )

    canon = run.materialize("canonical", _canon)

    all_triples = run.materialize(
        "triples",
        lambda: build_triples_multi(formatted, terms, tnames, canon),
        partition_by=["pred"],
    )
    run.flush_lineage()
    return all_triples
