"""End-to-end pipeline: triples emission, checkpoint/resume
idempotence (SURVEY.md §5 item 7), lineage counters."""

import os

from pyspark.sql import functions as F

from ontology_matcher_spark.plans.pipeline import run_pipeline


def _triple_set(df):
    return {
        (r["subj"], r["pred"], r["obj"]) for r in df.select("subj", "pred", "obj").collect()
    }


def test_run_and_resume_idempotent(spark, fixture_dir, tmp_path):
    out = str(tmp_path / "run1")
    t1 = run_pipeline(spark, fixture_dir, out, types=["Gene", "Disease"])
    s1 = _triple_set(t1)
    assert s1, "pipeline must emit triples"
    preds = {p for (_, p, _) in s1}
    assert preds == {"skos:exactMatch", "xref", "is-a"}

    # resume: stages already done → same triples, no recompute
    t2 = run_pipeline(spark, fixture_dir, out, types=["Gene", "Disease"])
    assert _triple_set(t2) == s1

    # manifest recorded all stages
    import json

    with open(os.path.join(out, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    assert set(manifest["stages"]) == {"formatted", "canonical", "triples"}
    assert all(v == "done" for v in manifest["stages"].values())

    # lineage rows were written on the first run
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    stages = {r["stage"] for r in lineage.select("stage").collect()}
    assert "formatted" in stages
    assert lineage.where(F.col("value") < 0).count() == 0


def test_warm_run_compiles_no_generated_code(spark, fixture_dir, tmp_path):
    """A repeat run finds every generated class in Spark's codegen
    cache. One Gene+Disease run generates ~106 distinct classes; with
    Spark's default cache of 100 the LRU evicted, and every warm run
    Janino-recompiled 60-74 of them."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    run_pipeline(spark, fixture_dir, str(tmp_path / "a"), types=["Gene", "Disease"])
    before = compiles.getCount()
    run_pipeline(spark, fixture_dir, str(tmp_path / "b"), types=["Gene", "Disease"])
    n = compiles.getCount() - before
    assert n <= 5, f"warm run Janino-compiled {n} classes"


def test_lazy_equals_checkpointed(spark, fixture_dir, tmp_path):
    """build_pipeline_lazy (single DAG, concurrent link jobs) must
    produce exactly the checkpointed run_pipeline's triples."""
    from ontology_matcher_spark.plans.pipeline import build_pipeline_lazy

    out = str(tmp_path / "ckpt_run")
    ckpt = _triple_set(run_pipeline(spark, fixture_dir, out))
    lazy = _triple_set(build_pipeline_lazy(spark, fixture_dir))
    assert lazy == ckpt


def test_lazy_with_detection_adds_mentions(spark, fixture_dir):
    from ontology_matcher_spark.plans.pipeline import build_pipeline_lazy

    base = build_pipeline_lazy(spark, fixture_dir).count()
    with_det = build_pipeline_lazy(
        spark, fixture_dir, detect_documents=True
    ).count()
    assert with_det > base


def test_triples_canonicalization(spark, bundle, fixture_dir, tmp_path):
    """Mention links must point at the canonical member of each
    xref-connected component (default-ns preferred)."""
    from ontology_matcher_spark import oracle

    out = str(tmp_path / "run2")
    t = run_pipeline(spark, fixture_dir, out, types=["Gene"])
    links = {
        (r["subj"], r["obj"])
        for r in t.where(F.col("pred") == "skos:exactMatch").collect()
    }
    assert links
    # spot-check: resolved mentions map into their cluster's canonical set
    clusters = bundle.clusters["Gene"]
    by_member = {}
    for c in clusters:
        for m in c.members:
            by_member[m] = c
    for subj, obj in links:
        c = by_member.get(subj)
        if c is None or c.chain:
            continue
        # canonical must be a member of the same latent cluster
        assert obj in c.members or obj == subj, (subj, obj, c.key)


def test_partition_stats_lineage(spark, fixture_dir, tmp_path):
    """partition_stats=True records bounded per-partition lineage:
    top-k most-loaded files per stage (driver holds O(k) rows, not
    O(files)) plus partitions/max/min/total summaries; the TOTAL —
    not the top-k sum — reconciles with rows_out."""
    import os

    from pyspark.sql import functions as F

    from ontology_matcher_spark.plans.pipeline import run_pipeline

    topk = 16
    out = str(tmp_path / "kgout_ps")
    run_pipeline(spark, fixture_dir, out, partition_stats=True)
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    stages = [r["stage"] for r in lin.select("stage").distinct().collect()]
    assert set(stages) >= {"formatted", "canonical", "triples"}
    for stage in ("formatted", "canonical", "triples"):
        rows_out = lin.where(
            (F.col("stage") == stage) & (F.col("metric") == "rows_out")
        ).collect()[0]["value"]
        per_part = [
            r["value"]
            for r in lin.where(
                (F.col("stage") == stage) & (F.col("metric") == "partition_rows")
            ).collect()
        ]
        assert per_part and len(per_part) <= topk  # bounded driver rows
        summary = {
            r["metric"]: r["value"]
            for r in lin.where(
                (F.col("stage") == stage)
                & (
                    F.col("metric").isin(
                        "partitions",
                        "partition_rows_max",
                        "partition_rows_min",
                        "partition_rows_total",
                    )
                )
            ).collect()
        }
        assert summary["partition_rows_total"] == rows_out
        assert summary["partition_rows_max"] == max(per_part)
        assert summary["partitions"] >= len(per_part)
        if summary["partitions"] <= topk:
            # every file listed → listing reconciles exactly
            assert summary["partitions"] == len(per_part)
            assert sum(per_part) == rows_out
            assert summary["partition_rows_min"] == min(per_part)
