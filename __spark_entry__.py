"""Driver contract for the spark-graft builder (PySpark target).

``entry`` — flagship KG run (mention detection → linking → triples)
over an interleaved-document corpus derived from sf0.001.
``queries``/``oracle_sql`` — one entry per implemented operator
(SURVEY.md §2): relational layer over the driver's TPC-H-ish tables,
text/dedup/similarity layer over documents+embeddings, and the KG
linking layer over the committed deterministic fixture corpus at
``fixtures/`` (generated by ontology_matcher_spark.fixtures, seed 42).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
FIXDIR = os.path.join(REPO, "fixtures")

import sys

if REPO not in sys.path:
    sys.path.insert(0, REPO)

from ontology_matcher_spark.ontology_types import (  # noqa: E402
    ONTOLOGY_TYPES,
    OntologyType,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _fx(spark: SparkSession, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(FIXDIR, f"{name}.parquet"))


# ===================================================================
# entry — flagship: interleaved docs → mention detect → link → triples
# ===================================================================
def entry(spark: SparkSession) -> DataFrame:
    """Interleave sf0.001 documents into the north-rule span shape,
    detect dictionary mentions (Arrow mapInArrow) against the FULL
    fixture ontology + a corpus-vocabulary tier, and emit
    skos:exactMatch triples. The dictionary is built as a distributed
    artifact (no driver-side table collect) and loaded per executor —
    the production shape of the detection stage."""
    import uuid

    from ontology_matcher_spark.functions.materialize import scratch_root
    from ontology_matcher_spark.operators.dictionary_build import (
        write_detection_artifact,
    )
    from ontology_matcher_spark.operators.mention_detect import (
        best_candidate_per_mention,
        detect_mentions,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = interleave_documents(_t(spark, sf_dir, "documents"))

    # corpus-vocabulary tier (deterministic) layered on the full
    # fixture ontology; xref edges feed the ladder's rank-1 tier
    vocab = ["spark", "join", "table", "query", "window", "filter",
             "hash", "batch", "column", "partition"]
    artifact = os.path.join(
        scratch_root(spark), f"entry-dict-{uuid.uuid4().hex[:8]}"
    )
    write_detection_artifact(
        _fx(spark, "ontology_terms"),
        artifact,
        _fx(spark, "xref_edges"),
        extra_term_rows=[
            {"curie": f"TOK:{w}", "name": w, "synonyms": []} for w in vocab
        ],
    )
    best = best_candidate_per_mention(detect_mentions(docs, artifact))
    return best.select(
        F.concat(F.lit("doc:"), F.col("doc_id"), F.lit("#"), F.col("span_idx")).alias("subj"),
        F.lit("skos:exactMatch").alias("pred"),
        F.col("id").alias("obj"),
        F.col("match_type").alias("src"),
    )


def interleave_documents(documents: DataFrame, words_per_span: int = 12) -> DataFrame:
    """Driver documents(doc_id, text) → north-rule interleaved shape
    (doc_id, spans[kind,text,media_ref,offset]): word chunks become
    text spans; every 5th span is replaced by a media span. Pure
    column expressions (sequence/transform/slice)."""
    toks = F.split(F.col("text"), r"\s+")
    n = F.size(toks)
    n_spans = F.greatest(F.ceil(n / words_per_span).cast("int"), F.lit(1))
    span_idx = F.sequence(F.lit(0), n_spans - 1)
    mk = lambda i: F.struct(  # noqa: E731
        F.when(i % 5 == 4, F.lit("image")).otherwise(F.lit("text")).alias("kind"),
        F.when(
            i % 5 == 4, F.lit("")
        ).otherwise(
            F.array_join(F.slice(toks, i * words_per_span + 1, words_per_span), " ")
        ).alias("text"),
        F.when(
            i % 5 == 4,
            F.concat(F.lit("media://image/"), F.col("doc_id").cast("string"), F.lit("/"), i.cast("string")),
        ).otherwise(F.lit("")).alias("media_ref"),
        (i * words_per_span).cast("int").alias("offset"),
    )
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.transform(span_idx, mk).alias("spans"),
    )


# ===================================================================
# relational layer (driver tables)
# ===================================================================
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("n_name")
    )


def q_top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        j.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .select(
            "c_mktsegment",
            "rk",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
        )
        .orderBy("c_mktsegment", "rk")
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


def q_part_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (
        p.groupBy("p_brand")
        .agg(
            F.countDistinct("p_type").alias("n_types"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
            F.max("p_size").alias("max_size"),
        )
        .orderBy("p_brand")
    )


def q_supplier_balance_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
        .orderBy("r_name")
    )


# ===================================================================
# text / dedup / similarity layer
# ===================================================================
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_matcher_spark.operators.text import token_count

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    ).orderBy("doc_id")


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_matcher_spark.operators.text import quality_features

    d = _t(spark, sf_dir, "documents")
    q = quality_features(d)
    return q.select(
        "doc_id",
        "n_chars_calc",
        "n_tokens",
        F.round("alpha_ratio", 4).alias("alpha_ratio"),
        F.round("punct_ratio", 4).alias("punct_ratio"),
        F.round("stopword_ratio", 4).alias("stopword_ratio"),
    ).orderBy("doc_id")


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_matcher_spark.operators.text import language_id

    d = _t(spark, sf_dir, "documents")
    return language_id(d).select(
        "doc_id", "hits_en", "hits_de", "hits_fr", "hits_es", "lang_pred"
    ).orderBy("doc_id")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_matcher_spark.operators.text import fingerprint

    d = _t(spark, sf_dir, "documents")
    return fingerprint(d).select("doc_id", "fp").orderBy("doc_id")


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_matcher_spark.operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    return (
        exact_dedup(d)
        .select(
            "doc_id", F.col("dup_rank").cast("long").alias("dup_rank"), "is_duplicate"
        )
        .orderBy("doc_id")
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_matcher_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    pairs = ngram_jaccard_pairs(d, threshold=0.2)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    ).orderBy("id_a", "id_b")


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup candidates (no SQL oracle: xxhash64 has no
    DuckDB equivalent; correctness covered by tests/test_dedup.py
    recall-vs-exact-jaccard)."""
    from ontology_matcher_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    return minhash_lsh_pairs(d).orderBy("id_a", "id_b")


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_matcher_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = (
        emb.where(F.col("vec_id") < 3)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    res = brute_force_topk(emb, queries, k=5)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "vec_id",
        F.round("score", 4).alias("score"),
    ).orderBy("query_id", "rank")


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN path under the DuckDB gate: k-means coarse quantizer →
    cluster-partitioned index → nprobe probe. Probing ALL centroids
    makes the result exactly the brute-force top-k (same tie-break),
    so the oracle is the same SQL as q_cosine_topk — the gate pins the
    index/probe algebra end-to-end; the recall-vs-nprobe trade is
    pinned separately in tests/test_dedup_similarity.py."""
    import uuid

    from ontology_matcher_spark.functions.materialize import scratch_root
    from ontology_matcher_spark.operators.similarity import (
        ivf_probe,
        train_ivf_centroids,
        write_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    n_centroids = 16
    centroids = train_ivf_centroids(emb, n_centroids=n_centroids)
    path = os.path.join(scratch_root(spark), f"ivf-{uuid.uuid4().hex[:8]}")
    write_ivf_index(emb, centroids, path)
    res = ivf_probe(spark, path, queries, k=5, nprobe=n_centroids)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("id").alias("vec_id"),
        F.round("score", 4).alias("score"),
    ).orderBy("query_id", "rank")


def q_ivf_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NO-COLLECT batch IVF probe (ivf_probe_batch) under the same
    DuckDB gate as q_ivf_topk: queries stay a DataFrame end-to-end
    (cluster assignment via Arrow UDF + join against the partitioned
    index); nprobe = n_centroids ≡ brute force, so the cosine-topk SQL
    pins the whole batch-probe algebra."""
    import uuid

    from ontology_matcher_spark.functions.materialize import scratch_root
    from ontology_matcher_spark.operators.similarity import (
        ivf_probe_batch,
        train_ivf_centroids,
        write_ivf_index,
    )

    n_centroids = 4
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    centroids = train_ivf_centroids(emb, n_centroids=n_centroids)
    path = os.path.join(scratch_root(spark), f"ivfb-{uuid.uuid4().hex[:8]}")
    write_ivf_index(emb, centroids, path)
    res = ivf_probe_batch(spark, path, queries, k=5, nprobe=n_centroids)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("id").alias("vec_id"),
        F.round("score", 4).alias("score"),
    ).orderBy("query_id", "rank")


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-banded near-dup pairs (xxhash64-based → no SQL
    oracle; banding recall + signature-form equality asserted in
    tests/test_simhash.py)."""
    from ontology_matcher_spark.operators.dedup import simhash_neardup_pairs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    return simhash_neardup_pairs(d, n_blocks=4, max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    ).orderBy("id_a", "id_b")


def q_minhash_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH pairs with the md5-derived base/band hash
    (`dedup._base_hash`), which DuckDB reproduces exactly — so the
    ENTIRE banding algebra (shingle→affine minima→signature collapse→
    band buckets→candidate join→jaccard estimate→member expansion)
    sits under the SQL oracle gate. `q_minhash_pairs` keeps the faster
    native xxhash64 for production; the algebra is identical.
    max_bucket=None: the gate pins the provably-complete pair set."""
    from ontology_matcher_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    return minhash_lsh_pairs(d, max_bucket=None, hash_fn="md5").orderBy(
        "id_a", "id_b"
    )


def q_simhash_neardup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the md5-derived 60-bit token hash —
    DuckDB-reproducible, putting the signature construction (±1 bit
    sums), pigeonhole block banding, and hamming verification under
    the SQL oracle gate. Production twin: `q_simhash_neardup`."""
    from ontology_matcher_spark.operators.dedup import simhash_neardup_pairs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    return simhash_neardup_pairs(
        d, bits=60, n_blocks=4, max_hamming=3, hash_fn="md5"
    ).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    ).orderBy("id_a", "id_b")


def kg_normalize_curie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/P4 namespace canonicalization: deterministically mangle the
    fixture edge targets (lowercase prefix / OLS4 '_' separator), then
    normalize back — checked against a DuckDB reimplementation."""
    from ontology_matcher_spark.operators.dictionary_build import (
        normalize_curie,
    )

    e = _fx(spark, "xref_edges").select("dst_curie").distinct()
    mangled = F.when(
        F.length("dst_curie") % 3 == 0,
        F.concat(
            F.lower(F.substring_index("dst_curie", ":", 1)),
            F.lit(":"),
            F.substring_index("dst_curie", ":", -1),
        ),
    ).when(
        F.length("dst_curie") % 3 == 1,
        F.regexp_replace("dst_curie", ":", "_"),
    ).otherwise(F.col("dst_curie"))
    return e.select(
        F.col("dst_curie").alias("original"),
        mangled.alias("mangled"),
        normalize_curie(mangled).alias("normalized"),
    ).orderBy("original")


def q_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via hyperplane LSH (approximate → no SQL
    oracle; recall vs brute force asserted in tests)."""
    from ontology_matcher_spark.operators.similarity import (
        embedding_near_dup,
        make_planes,
    )

    emb = _t(spark, sf_dir, "embeddings")
    planes = make_planes(64, n_planes=6)
    return embedding_near_dup(emb, planes, threshold=0.2).select(
        "id_a", "id_b", F.round("cos", 4).alias("cos")
    ).orderBy("id_a", "id_b")


def q_lsh_neardup_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`embedding_near_dup_multiband` under the DuckDB gate via the
    degenerate-parameter trick (the LSH twin of q_ivf_topk's
    nprobe=n_centroids): ONE band with ONE all-zero hyperplane puts
    every vector in the same bucket (proj 0 → sign bit set → bucket
    1), so the banding explode → bucket equi-join → pair dedup →
    exact-cosine verify → threshold pipeline IS brute-force near-dup
    — which SQL can restate. The hashing itself (sign-bit buckets of
    real hyperplanes) stays pinned by the recall tests; this gate
    pins everything downstream of it."""
    from ontology_matcher_spark.operators.similarity import (
        embedding_near_dup_multiband,
    )

    emb = _t(spark, sf_dir, "embeddings")
    bands = [[[0.0] * 64]]
    return embedding_near_dup_multiband(
        emb, bands, threshold=0.4, max_bucket=None
    ).select(
        "id_a", "id_b", F.round("cos", 4).alias("cos")
    ).orderBy("id_a", "id_b")


# ===================================================================
# KG linking layer (committed fixture corpus)
# ===================================================================
def _kg_formatted(tname: str, strategy=None):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ontology_matcher_spark.ontology_types import Strategy
        from ontology_matcher_spark.plans.pipeline import link_mentions

        otype = ONTOLOGY_TYPES[tname]
        mentions = _fx(spark, "mentions").where(F.col("label") == tname)
        fmt, _ = link_mentions(
            mentions,
            _fx(spark, "xref_edges"),
            _fx(spark, "ontology_terms"),
            otype,
            strategy or Strategy.MIXTURE,
        )
        return fmt.orderBy("id", "raw_id", "name")

    return run


def _kg_dedup(tname: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ontology_matcher_spark.operators.dedup_entities import dedup_entities
        from ontology_matcher_spark.plans.pipeline import link_mentions

        otype = ONTOLOGY_TYPES[tname]
        mentions = _fx(spark, "mentions").where(F.col("label") == tname)
        fmt, _ = link_mentions(
            mentions, _fx(spark, "xref_edges"), _fx(spark, "ontology_terms"), otype
        )
        return dedup_entities(fmt, otype).orderBy("id")

    return run


def _kg_routing(tname: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ontology_matcher_spark.operators.candidates import generate_candidates
        from ontology_matcher_spark.operators.validate import validate_mentions

        otype = ONTOLOGY_TYPES[tname]
        mentions = _fx(spark, "mentions").where(F.col("label") == tname)
        v = validate_mentions(mentions, otype)
        cands = generate_candidates(
            v.where(F.col("format_reason").isNull()), _fx(spark, "xref_edges"), otype
        )
        match_reasons = cands.select(
            F.coalesce(F.col("reason"), F.lit("converted")).alias("outcome")
        )
        invalid = v.where(F.col("format_reason").isNotNull()).select(
            F.col("format_reason").alias("outcome")
        )
        return (
            match_reasons.unionByName(invalid)
            .groupBy("outcome")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("outcome")
        )

    return run


def kg_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC over all xref edges (large-star/small-star) + per-type
    canonical pick — the DuckDB oracle uses a recursive-CTE transitive
    closure, so this cross-checks the iterative algorithm exactly."""
    from ontology_matcher_spark.operators.canonicalize import (
        canonical_assignment_by_label,
    )

    edges = _fx(spark, "xref_edges")
    terms = _fx(spark, "ontology_terms")
    canon = canonical_assignment_by_label(
        edges, terms.select("curie", "label"), ONTOLOGY_TYPES,
        src="src_curie", dst="dst_curie",
    )
    return canon.orderBy("node")


def kg_isa_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fx(spark, "ontology_terms")
    return (
        t.where(F.col("parent_curie") != "")
        .select(
            F.col("curie").alias("subj"),
            F.lit("is-a").alias("pred"),
            F.col("parent_curie").alias("obj"),
            "label",
        )
        .orderBy("subj", "obj")
    )


def kg_xref_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_matcher_spark.functions.arrays import split_pipe
    from ontology_matcher_spark.plans.pipeline import link_mentions

    otype = ONTOLOGY_TYPES["Gene"]
    mentions = _fx(spark, "mentions").where(F.col("label") == "Gene")
    fmt, _ = link_mentions(
        mentions, _fx(spark, "xref_edges"), _fx(spark, "ontology_terms"), otype
    )
    return (
        fmt.select(
            F.col("id").alias("subj"),
            F.lit("xref").alias("pred"),
            F.explode(split_pipe("xrefs")).alias("obj"),
        )
        .where(F.col("subj") != F.col("obj"))
        .distinct()
        .orderBy("subj", "obj")
    )


def kg_detected_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary mention detection over the fixture interleaved docs
    (Arrow mapInArrow, distributed dictionary artifact), best candidate
    per mention. No SQL oracle: the ranked ladder over the gated exact
    and fuzzy tiers is checked against the pure-Python
    `oracle.best_candidates` in tests/test_mention_detect."""
    import uuid

    from ontology_matcher_spark.functions.materialize import scratch_root
    from ontology_matcher_spark.operators.dictionary_build import (
        write_detection_artifact,
    )
    from ontology_matcher_spark.operators.mention_detect import (
        best_candidate_per_mention,
        detect_mentions,
    )

    docs = _fx(spark, "documents")
    artifact = os.path.join(
        scratch_root(spark), f"kgdm-dict-{uuid.uuid4().hex[:8]}"
    )
    write_detection_artifact(_fx(spark, "ontology_terms"), artifact)
    m = best_candidate_per_mention(detect_mentions(docs, artifact))
    return m.select("doc_id", "span_idx", "surface", "id", "match_type").orderBy(
        "doc_id", "span_idx", "surface"
    )


def kg_detected_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-EXPRESSIBLE tier of mention detection under the DuckDB
    gate: normalized-surface (name/synonym) n-gram matches from the
    PRODUCTION detector (mapInArrow + distributed artifact), deduped
    per (doc, span, surface, id). The oracle re-derives the same set
    relationally: explode document token n-grams up to
    _MAX_SURFACE_TOKENS and equi-join against the normalized
    name/synonym surface table. exact-id/xref/fuzzy tiers stay
    test-covered (kg_detected_mentions, tests/test_mention_detect)."""
    import uuid

    from ontology_matcher_spark.functions.materialize import scratch_root
    from ontology_matcher_spark.operators.dictionary_build import (
        write_detection_artifact,
    )
    from ontology_matcher_spark.operators.mention_detect import detect_mentions

    docs = _fx(spark, "documents")
    artifact = os.path.join(
        scratch_root(spark), f"kgde-dict-{uuid.uuid4().hex[:8]}"
    )
    write_detection_artifact(_fx(spark, "ontology_terms"), artifact)
    m = detect_mentions(docs, artifact)
    return (
        m.where(F.col("match_type").isin("name", "synonym"))
        .select("doc_id", "span_idx", "surface", "id", "match_type")
        .distinct()
        .orderBy("doc_id", "span_idx", "surface", "id", "match_type")
    )


def kg_detected_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FUZZY tier of mention detection under the DuckDB gate
    (round-4 verdict item 4): tokens ≥ 5 chars with no exact
    name/synonym n-gram match starting at their position, at edit
    distance 1 from a single-token dictionary NAME, resolved to that
    name's curies. The production path is the SymSpell
    deletion-neighbourhood index inside the mapInArrow detector
    (mention_detect._fuzzy_curies); the oracle re-derives it
    relationally — token deletion-variants equi-joined to surface
    deletion-variants, verified with DuckDB's levenshtein ≤ 1 — the
    symmetric-deletion join restated in SQL. With this, only the
    binary/streaming surfaces remain un-gated."""
    import uuid

    from ontology_matcher_spark.functions.materialize import scratch_root
    from ontology_matcher_spark.operators.dictionary_build import (
        write_detection_artifact,
    )
    from ontology_matcher_spark.operators.mention_detect import detect_mentions

    docs = _fx(spark, "documents")
    artifact = os.path.join(
        scratch_root(spark), f"kgdf-dict-{uuid.uuid4().hex[:8]}"
    )
    write_detection_artifact(_fx(spark, "ontology_terms"), artifact)
    m = detect_mentions(docs, artifact)
    return (
        m.where(F.col("match_type") == "fuzzy")
        .select("doc_id", "span_idx", "surface", "id", "match_type")
        .distinct()
        .orderBy("doc_id", "span_idx", "surface", "id")
    )


def kg_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: per-media-span metadata + deterministic
    fake features over the synthetic media:// refs (real pixel decode
    + embeddings over byte-backed refs: kg_media_embed). DuckDB-gated
    since round 4: the fake dims are sha256(media_ref) bytes, which
    SQL reproduces via unhex arithmetic."""
    from ontology_matcher_spark.operators.multimodal import extract_media_features

    docs = _fx(spark, "documents")
    return extract_media_features(docs, fake=True).select(
        "doc_id", "span_idx", "media_ref", "kind", "width", "height"
    ).orderBy("doc_id", "span_idx")


def kg_media_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode (stdlib PNG/GIF/BMP container header parse,
    no image libraries) over the committed fixtures/media files,
    through the same mapInPandas path as production (fake=False). No
    SQL oracle — binary header parsing is not SQL-expressible; the
    parsed dimensions are pinned in tests/test_multimodal.py."""
    from ontology_matcher_spark.operators.multimodal import extract_media_features
    from ontology_matcher_spark.schemas import DOCUMENTS

    media_dir = os.path.join(FIXDIR, "media")
    spans = [
        {
            "kind": "image",
            "text": "",
            "media_ref": f"file://{media_dir}/{fn}",
            "offset": i * 10,
        }
        for i, fn in enumerate(["tiny.png", "tiny.gif", "tiny.bmp"])
    ] + [
        {
            "kind": "audio",
            "text": "",
            "media_ref": f"file://{media_dir}/tiny.wav",
            "offset": 30,
        }
    ]
    docs = spark.createDataFrame([("media-doc-0", spans)], DOCUMENTS)
    return extract_media_features(docs, fake=False).select(
        "doc_id", "span_idx", "media_ref", "width", "height"
    ).orderBy("span_idx")


def kg_media_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media feature extraction end-to-end: stdlib PNG/BMP/GIF
    pixel decode (zlib inflate + scanline unfilter / raw BGR rows /
    LZW) → per-channel histogram embeddings, through the production
    mapInPandas path over the committed fixtures/media files — plus
    the AUDIO path: tiny.wav's PCM container facts + amplitude
    histogram (multimodal.wav_features). No SQL oracle — binary
    pixel/PCM decode is not SQL-expressible; the exact feature values
    are pinned in tests/test_multimodal.py."""
    from ontology_matcher_spark.operators.multimodal import (
        extract_media_embeddings,
    )
    from ontology_matcher_spark.schemas import DOCUMENTS

    media_dir = os.path.join(FIXDIR, "media")
    spans = [
        {
            "kind": "image",
            "text": "",
            "media_ref": f"file://{media_dir}/{fn}",
            "offset": i * 10,
        }
        for i, fn in enumerate(["tiny.png", "tiny.gif", "tiny.bmp"])
    ] + [
        {
            "kind": "audio",
            "text": "",
            "media_ref": f"file://{media_dir}/tiny.wav",
            "offset": 30,
        }
    ]
    docs = spark.createDataFrame([("media-doc-0", spans)], DOCUMENTS)
    emb = extract_media_embeddings(docs)
    return emb.select(
        "doc_id",
        "span_idx",
        "width",
        "height",
        # try_element_at: the audio (WAV) span carries a 12-dim
        # feature vector vs the images' 24 — index 17 must yield NULL
        # there, not an ANSI out-of-bounds abort
        F.round(F.try_element_at("features", F.lit(1)), 4).alias("f0"),
        F.round(F.try_element_at("features", F.lit(9)), 4).alias("f8"),
        F.round(F.try_element_at("features", F.lit(17)), 4).alias("f16"),
        F.size("features").alias("dim"),
    ).orderBy("span_idx")


# ===================================================================
# DuckDB oracle SQL
# ===================================================================
_MENTIONS_PQ = f"read_parquet('{FIXDIR}/mentions.parquet')"
_EDGES_PQ = f"read_parquet('{FIXDIR}/xref_edges.parquet')"
_TERMS_PQ = f"read_parquet('{FIXDIR}/ontology_terms.parquet')"
_DOCS_FX_PQ = f"read_parquet('{FIXDIR}/documents.parquet')"


def _jl(expr: str) -> str:
    """DuckDB rendering of sql_join_lst (split members on '|',
    flatten, dedup, sort, pipe-join)."""
    # coalesce: DuckDB's array_to_string([]) is NULL, Spark's is ''
    return (
        "coalesce(array_to_string(list_sort(list_distinct(list_filter(flatten("
        f"list_transform({expr}, x -> string_split(coalesce(x, ''), '|'))"
        "), x -> x IS NOT NULL AND x <> ''))), '|'), '')"
    )


def _kg_common_sql(otype: OntologyType, strategy: str = "MIXTURE") -> str:
    """Shared CTE prefix: valid/candidates/routing/records for a type."""
    choices = list(otype.choices)
    d_i = choices.index(otype.default)
    unique_clause = ""
    if strategy == "UNIQUE":
        any_multi = " OR ".join(
            f"(ns <> '{c}' AND len(c{i}) > 1)" for i, c in enumerate(choices)
        )
        unique_clause = (
            f"WHEN {any_multi} THEN "
            "'The strategy is unique, but multiple results found'"
        )
    ns_alt = "|".join(choices)
    ns_list = ", ".join(f"'{c}'" for c in choices)
    curie_re = f"^({ns_alt}):[a-z0-9A-Z.*+]+$"
    cand_aggs = ",\n         ".join(
        f"coalesce(array_agg(DISTINCT e.dst_curie) "
        f"FILTER (WHERE e.dst_ns = '{c}'), []) AS c{i}"
        for i, c in enumerate(choices)
    )
    own_override = ",\n     ".join(
        f"CASE WHEN ns = '{c}' THEN [raw_id] ELSE list_sort(c{i}) END AS c{i}"
        for i, c in enumerate(choices)
    )
    return f"""
m AS (
  SELECT * FROM {_MENTIONS_PQ} WHERE label = '{otype.type}'
),
valid AS (
  SELECT * FROM m WHERE id IS NOT NULL AND regexp_matches(id, '{curie_re}')
),
edges AS (
  SELECT src_curie, dst_ns, dst_curie FROM {_EDGES_PQ}
  WHERE dst_ns IN ({ns_list})
),
wide0 AS (
  SELECT v.idx, v.id AS raw_id, split_part(v.id, ':', 1) AS ns,
         count(e.dst_curie) AS n_hits,
         {cand_aggs}
  FROM valid v LEFT JOIN edges e ON v.id = e.src_curie
  GROUP BY 1, 2, 3
),
wide AS (
  SELECT idx, raw_id, ns, n_hits,
     {own_override}
  FROM wide0
),
routed AS (
  SELECT *, CASE WHEN n_hits = 0 THEN 'No results found'
                 WHEN ns <> '{otype.default}' AND len(c{d_i}) > 1
                      THEN 'Multiple results found'
                 {unique_clause}
            END AS reason
  FROM wide
),
invalid AS (
  SELECT id AS fid,
     CASE WHEN id IS NULL OR strpos(id, ':') = 0 THEN 'Invalid id format'
          WHEN split_part(id, ':', 1) NOT IN ({ns_list}) THEN 'Invalid prefix'
          ELSE 'Invalid id format' END AS reason
  FROM m WHERE id IS NULL OR NOT regexp_matches(id, '{curie_re}')
),
records AS (
  SELECT coalesce(id,'') AS rid, coalesce(name,'') AS r_name,
         coalesce(label,'') AS r_label, coalesce(resource,'') AS r_resource,
         coalesce(description,'') AS r_description,
         coalesce(synonyms,'') AS r_synonyms, coalesce(pmids,'') AS r_pmids,
         coalesce(taxid,'') AS r_taxid, coalesce(xrefs,'') AS r_xrefs
  FROM m
  QUALIFY row_number() OVER (PARTITION BY id ORDER BY idx) = 1
)"""


def _kg_formatted_sql(otype: OntologyType, strategy: str = "MIXTURE") -> str:
    choices = list(otype.choices)
    d_i = choices.index(otype.default)
    alias_concat = " || ".join(f"c{i}" for i, c in enumerate(choices) if i != d_i)
    rescue = (
        "" if strategy == "MIXTURE"
        else f"WHERE starts_with(f.fid, '{otype.default}:')"
    )
    if otype.metadata_mode == "gene":
        # gene/__init__.py:332-354: SYMBOL→name, summary→description
        # (no raw fallback), taxid from metadata, md name → synonyms
        name_sql = "coalesce(nullif(mdsym, ''), nullif(mdn, ''), r_name)"
        desc_sql = (
            "CASE WHEN mdc IS NOT NULL THEN coalesce(mdd, '')"
            " ELSE r_description END"
        )
        taxid_sql = (
            "CASE WHEN mdc IS NOT NULL THEN coalesce(mdt, '')"
            " ELSE r_taxid END"
        )
        syn_sql = _jl(
            "coalesce(mds, []) || "
            "(CASE WHEN mdc IS NOT NULL AND coalesce(mdn, '') <> ''"
            " THEN [mdn] ELSE [] END) || [r_synonyms]"
        )
    else:
        name_sql = "coalesce(nullif(mdn, ''), r_name)"
        desc_sql = "coalesce(nullif(mdd, ''), r_description)"
        taxid_sql = "r_taxid"
        syn_sql = _jl("coalesce(mds, []) || [r_synonyms]")
    return f"""WITH {_kg_common_sql(otype, strategy)},
conv AS (
  SELECT w.*, r.*,
         CASE WHEN len(c{d_i}) = 1 THEN c{d_i}[1] END AS canonical
  FROM routed w JOIN records r ON w.raw_id = r.rid
  WHERE w.reason IS NULL
),
conv2 AS (
  SELECT c.*, t.curie AS mdc, t.name AS mdn, t.description AS mdd,
         t.synonyms AS mds, t.symbol AS mdsym, t.taxid AS mdt,
         t.xrefs AS mdx, t.pmids AS mdp
  FROM conv c LEFT JOIN {_TERMS_PQ} t
    ON coalesce(c.canonical, c.raw_id) = t.curie
),
fmt_conv AS (
  SELECT
    CASE WHEN canonical IS NOT NULL THEN canonical ELSE raw_id END AS id,
    {name_sql} AS name,
    CASE WHEN canonical IS NOT NULL THEN '{otype.type}' ELSE r_label END AS label,
    r_resource AS resource,
    {desc_sql} AS description,
    {syn_sql} AS synonyms,
    {_jl("coalesce(mdp, []) || [r_pmids]")} AS pmids,
    {taxid_sql} AS taxid,
    {_jl(f"({alias_concat}) || coalesce(mdx, []) || [r_xrefs]")} AS xrefs,
    CASE WHEN canonical IS NOT NULL THEN raw_id ELSE '' END AS raw_id
  FROM conv2
),
fails AS (
  SELECT raw_id AS fid, reason FROM routed WHERE reason IS NOT NULL
  UNION ALL SELECT fid, reason FROM invalid
),
fmt_failed AS (
  SELECT f.fid AS id, r.r_name AS name, '{otype.type}' AS label,
         r.r_resource AS resource, r.r_description AS description,
         r.r_synonyms AS synonyms, r.r_pmids AS pmids, r.r_taxid AS taxid,
         r.r_xrefs AS xrefs, '' AS raw_id
  FROM fails f LEFT JOIN records r ON f.fid = r.rid
  {rescue}
)
SELECT * FROM fmt_conv UNION ALL SELECT * FROM fmt_failed
ORDER BY id, raw_id, name"""


def _kg_dedup_sql(otype: OntologyType) -> str:
    """dedup-command semantics over the formatted output: xref >
    synonym > name priority matching, one-match merge, multi-match
    drop, salted-agg equivalent final groupBy (cli.py:168-296)."""
    d = otype.default
    t = otype.type
    split = "list_filter(string_split({c}, '|'), x -> x <> '')"
    return f"""WITH fmt AS ({_kg_formatted_sql(otype)}),
official AS (SELECT * FROM fmt WHERE starts_with(id, '{d}:')),
unofficial AS (SELECT * FROM fmt WHERE NOT starts_with(id, '{d}:')),
off_xref AS (
  SELECT id AS o_id, unnest({split.format(c='xrefs')}) AS x FROM official),
off_syn AS (
  SELECT id AS o_id,
         lower(trim(unnest({split.format(c='synonyms')}))) AS s
  FROM official),
off_name AS (SELECT id AS o_id, lower(trim(name)) AS n FROM official),
u AS (SELECT DISTINCT id AS u_id, lower(trim(name)) AS u_name FROM unofficial),
m AS (
  SELECT u_id, o_id, 0 AS rule FROM u JOIN off_xref ON u_id = x
  UNION SELECT u_id, o_id, 1 FROM u JOIN off_syn ON u_name = s
  UNION SELECT u_id, o_id, 2 FROM u JOIN off_name ON u_name = n
),
best AS (SELECT u_id, min(rule) AS rule FROM m GROUP BY u_id),
at_best AS (SELECT m.u_id, m.o_id FROM m JOIN best USING (u_id, rule)),
counted AS (
  SELECT u_id, list_sort(list(DISTINCT o_id)) AS o_ids,
         count(DISTINCT o_id) AS n
  FROM at_best GROUP BY u_id),
one AS (SELECT u_id, o_ids[1] AS target_id FROM counted WHERE n = 1),
multi AS (SELECT u_id FROM counted WHERE n > 1),
merged AS (
  SELECT f.*, coalesce(o.target_id, f.id) AS new_id,
     CASE WHEN o.target_id IS NOT NULL
          THEN concat_ws('|', f.xrefs, f.id) ELSE f.xrefs END AS xrefs2
  FROM fmt f LEFT JOIN one o ON f.id = o.u_id
  WHERE f.id NOT IN (SELECT u_id FROM multi)
)
SELECT new_id AS id, min(name) AS name, label, min(resource) AS resource,
  min(description) AS description,
  {_jl("list(synonyms)")} AS synonyms,
  {_jl("list(pmids)")} AS pmids,
  min(taxid) AS taxid,
  {_jl("list(xrefs2)")} AS xrefs,
  {_jl("list(raw_id)")} AS raw_id
FROM merged GROUP BY new_id, label ORDER BY id"""


def _kg_routing_sql(otype: OntologyType) -> str:
    return f"""WITH {_kg_common_sql(otype)},
outcomes AS (
  SELECT coalesce(reason, 'converted') AS outcome FROM routed
  UNION ALL SELECT reason AS outcome FROM invalid
)
SELECT outcome, count(*) AS n FROM outcomes GROUP BY outcome ORDER BY outcome"""


_DEFNS_CASE = " ".join(
    f"WHEN '{t}' THEN '{ot.default}'" for t, ot in ONTOLOGY_TYPES.items()
)

_KG_CANONICAL_SQL = f"""WITH RECURSIVE ed AS (
  SELECT src_curie AS s, dst_curie AS d FROM {_EDGES_PQ}
  UNION SELECT dst_curie, src_curie FROM {_EDGES_PQ}
),
walk(node, lab) AS (
  SELECT s, s FROM ed
  UNION
  SELECT ed.d, walk.lab FROM walk JOIN ed ON ed.s = walk.node
),
root AS (SELECT node, min(lab) AS root FROM walk GROUP BY node),
lbl AS (SELECT curie, min(label) AS label FROM {_TERMS_PQ} GROUP BY curie),
nodes AS (
  -- LEFT join: the Spark side (canonical_assignment_by_label) keeps
  -- unlabeled nodes with defns NULL; parity must not depend on the
  -- fixture guaranteeing every edge endpoint a term row
  SELECT r.node, r.root, CASE l.label {_DEFNS_CASE} END AS defns
  FROM root r LEFT JOIN lbl l ON r.node = l.curie
),
pick AS (
  SELECT root,
     coalesce(min(CASE WHEN starts_with(node, defns || ':') THEN node END),
              min(node)) AS canonical
  FROM nodes GROUP BY root
)
SELECT n.node, p.canonical FROM nodes n JOIN pick p USING (root)
ORDER BY n.node"""

# --- text-layer SQL building blocks ---------------------------------
_TOKS = (
    "list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),"
    " x -> x <> '')"
)
_NORM = f"array_to_string({_TOKS}, ' ')"
_EN_STOP = "['the', 'and', 'of', 'to', 'in']"
_LANGS = {
    "en": "['the','and','of','to','in']",
    "de": "['der','die','und','das','nicht']",
    "fr": "['le','la','les','et','est']",
    "es": "['el','los','las','que','una']",
}


def _sh3(toks: str) -> str:
    """DuckDB 3-shingle list (mirrors dedup.shingles k=3)."""
    return (
        f"CASE WHEN len({toks}) >= 3 THEN "
        f"list_distinct([array_to_string(({toks})[i:i+2], ' ') "
        f"for i in range(1, len({toks}) - 1)]) "
        f"WHEN len({toks}) > 0 THEN [array_to_string({toks}, ' ')] "
        "ELSE [] END"
    )


#: DuckDB twin of dedup._base_hash / _band_hash md5 mode: 60-bit value
#: from the md5 hex prefix — bit-identical to Spark's
#: conv(substr(md5(x),1,15),16,10).
def _md5h(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}),1,15)) AS BIGINT)"


def _minhash_md5_sql() -> str:
    """Full relational restatement of minhash_lsh_pairs(hash_fn='md5',
    max_bucket=None): same affine constants (shared _affine_params
    seed), same signature-identical collapse, band hashing, candidate
    join, jaccard estimate, and member expansion."""
    from ontology_matcher_spark.operators.dedup import _affine_params

    num, bands = 32, 8
    rpb = num // bands
    params = _affine_params(num)
    sig_cols = ",\n  ".join(
        f"min((h*{a}+{b})%2147483647) AS m{i}" for i, (a, b) in enumerate(params)
    )
    mlist = ",".join(f"m{i}" for i in range(num))
    band_sel = "\n  UNION ALL ".join(
        "SELECT id, members, {b} AS band, {bh} AS bh, {ml} FROM grp".format(
            b=b,
            bh=_md5h(
                "concat_ws(',', {b}, {cols})".format(
                    b=b, cols=",".join(f"m{b * rpb + j}" for j in range(rpb))
                )
            ),
            ml=mlist,
        )
        for b in range(bands)
    )
    est = (
        "("
        + "+".join(f"CASE WHEN a.m{i}=b.m{i} THEN 1 ELSE 0 END" for i in range(num))
        + f")/{num}.0"
    )
    return f"""
WITH lim AS (SELECT * FROM documents WHERE doc_id < 500),
sh0 AS (SELECT doc_id AS id, unnest({_sh3(_TOKS)}) AS s FROM lim),
h AS (SELECT id, {_md5h('s')} % 2147483647 AS h FROM sh0),
sig AS (SELECT id, {sig_cols} FROM h GROUP BY id),
grp AS (SELECT {mlist}, min(id) AS id, list_sort(list(id)) AS members
        FROM sig GROUP BY {mlist}),
banded AS ({band_sel}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, {est} AS jaccard_est,
    a.members AS members_a, b.members AS members_b
  FROM banded a JOIN banded b
    ON a.band=b.band AND a.bh=b.bh AND a.id<b.id),
cross_p AS (
  SELECT least(ma,mb) AS id_a, greatest(ma,mb) AS id_b, jaccard_est
  FROM (SELECT jaccard_est, unnest(members_a) AS ma, members_b FROM cand),
       LATERAL (SELECT unnest(members_b) AS mb)),
intra AS (
  SELECT ma AS id_a, mb AS id_b, CAST(1.0 AS DOUBLE) AS jaccard_est
  FROM (SELECT unnest(members) AS ma, members FROM grp WHERE len(members)>1),
       LATERAL (SELECT unnest(members) AS mb)
  WHERE ma < mb)
SELECT * FROM (SELECT * FROM cross_p UNION ALL SELECT * FROM intra)
ORDER BY id_a, id_b"""


def _simhash_md5_sql() -> str:
    """Relational restatement of simhash_neardup_pairs(bits=60,
    n_blocks=4, max_hamming=3, hash_fn='md5')."""
    bits, n_blocks, max_hamming = 60, 4, 3
    width = bits // n_blocks
    csum = ",\n  ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS c{i}"
        for i in range(bits)
    )
    sigexpr = "+".join(
        f"CASE WHEN c{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(bits)
    )
    blk_sel = "\n  UNION ALL ".join(
        f"SELECT id, sim, {j} AS blk, (sim >> {j * width}) & "
        f"{(1 << (bits - j * width if j == n_blocks - 1 else width)) - 1} AS bv "
        "FROM sig"
        for j in range(n_blocks)
    )
    return f"""
WITH lim AS (SELECT * FROM documents WHERE doc_id < 500),
tok AS (SELECT doc_id AS id, unnest({_TOKS}) AS t FROM lim),
h AS (SELECT id, {_md5h('t')} AS h FROM tok),
agg AS (SELECT id, {csum} FROM h GROUP BY id),
sig AS (SELECT id, {sigexpr} AS sim FROM agg),
banded AS ({blk_sel}),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
  CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
  FROM banded a JOIN banded b ON a.blk=b.blk AND a.bv=b.bv AND a.id<b.id)
SELECT id_a, id_b, hamming FROM cand WHERE hamming <= {max_hamming}
ORDER BY id_a, id_b"""


def oracle_sql() -> dict[str, str]:
    langs_hits = ",\n  ".join(
        f"len(list_filter({_TOKS}, x -> list_contains({m}, x)))::BIGINT AS hits_{lang}"
        for lang, m in _LANGS.items()
    )
    lang_best = "greatest(hits_en, hits_de, hits_fr, hits_es)"
    lang_pred = (
        "CASE WHEN hits_en = best AND best > 0 THEN 'en' "
        "WHEN hits_de = best AND best > 0 THEN 'de' "
        "WHEN hits_fr = best AND best > 0 THEN 'fr' "
        "WHEN hits_es = best AND best > 0 THEN 'es' "
        "ELSE 'unknown' END"
    )
    sql: dict[str, str] = {
        "q_pricing_summary": """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
        "q_revenue_by_nation": """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name""",
        "q_top_orders_per_segment": """
SELECT c_mktsegment, rk, o_orderkey, total_price FROM (
  SELECT c_mktsegment, o_orderkey, round(o_totalprice, 2) AS total_price,
    row_number() OVER (PARTITION BY c_mktsegment
                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rk <= 3 ORDER BY c_mktsegment, rk""",
        "q_events_hourly": """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY hour, event_type""",
        "q_part_brand_stats": """
SELECT p_brand, count(DISTINCT p_type) AS n_types,
       round(avg(p_retailprice), 2) AS avg_price, max(p_size) AS max_size
FROM part GROUP BY p_brand ORDER BY p_brand""",
        "q_supplier_balance_by_region": """
SELECT r_name, round(sum(s_acctbal), 2) AS total_bal, count(*) AS n_suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name""",
        "q_token_count": f"""
SELECT doc_id, len({_TOKS})::BIGINT AS n_tokens FROM documents ORDER BY doc_id""",
        "q_quality": f"""
SELECT doc_id,
  length(coalesce(text, ''))::BIGINT AS n_chars_calc,
  len({_TOKS})::BIGINT AS n_tokens,
  round(CASE WHEN length(coalesce(text,'')) > 0 THEN
    length(regexp_replace(coalesce(text,''), '[^A-Za-z]', '', 'g'))
      / length(coalesce(text,'')) ELSE 0 END, 4) AS alpha_ratio,
  round(CASE WHEN length(coalesce(text,'')) > 0 THEN
    length(regexp_replace(coalesce(text,''), '[^.,;:!?]', '', 'g'))
      / length(coalesce(text,'')) ELSE 0 END, 4) AS punct_ratio,
  round(CASE WHEN len({_TOKS}) > 0 THEN
    len(list_filter({_TOKS}, x -> list_contains({_EN_STOP}, x)))
      / len({_TOKS}) ELSE 0 END, 4) AS stopword_ratio
FROM documents ORDER BY doc_id""",
        "q_langid": f"""
SELECT doc_id, hits_en, hits_de, hits_fr, hits_es, {lang_pred} AS lang_pred
FROM (
  SELECT doc_id, hits_en, hits_de, hits_fr, hits_es, {lang_best} AS best
  FROM (SELECT doc_id, {langs_hits} FROM documents)
) ORDER BY doc_id""",
        "q_fingerprint": f"""
SELECT doc_id, md5({_NORM}) AS fp FROM documents ORDER BY doc_id""",
        "q_exact_dedup": f"""
SELECT doc_id,
  row_number() OVER (PARTITION BY md5({_NORM}) ORDER BY doc_id) AS dup_rank,
  row_number() OVER (PARTITION BY md5({_NORM}) ORDER BY doc_id) > 1
    AS is_duplicate
FROM documents ORDER BY doc_id""",
        "q_ngram_jaccard": f"""
WITH lim AS (SELECT * FROM documents WHERE doc_id < 200),
sh AS (SELECT doc_id AS id, unnest({_sh3(_TOKS)}) AS s FROM lim),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
  round(i / (sa.n + sb.n - i), 4) AS jaccard
FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
WHERE i / (sa.n + sb.n - i) >= 0.2
ORDER BY id_a, id_b""",
        "q_cosine_topk": """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 3
),
scored AS (
  SELECT q.query_id, e.vec_id,
    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS score
  FROM embeddings e CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, score,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, round(score, 4) AS score
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
        "kg_canonical": _KG_CANONICAL_SQL,
        "kg_isa_triples": f"""
SELECT curie AS subj, 'is-a' AS pred, parent_curie AS obj, label
FROM {_TERMS_PQ} WHERE parent_curie <> '' ORDER BY subj, obj""",
    }
    # IVF with nprobe = n_centroids scores every vector — exactly the
    # brute-force ranking, so it shares the cosine-topk oracle
    sql["q_ivf_topk"] = sql["q_cosine_topk"]
    sql["q_ivf_topk_batch"] = sql["q_cosine_topk"]
    # degenerate single-zero-plane band → one bucket → brute force
    sql["q_lsh_neardup_full"] = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round(list_cosine_similarity(a.embedding::DOUBLE[],
                               b.embedding::DOUBLE[]), 4) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                             b.embedding::DOUBLE[]) >= 0.4
ORDER BY id_a, id_b"""
    sql["q_minhash_pairs_md5"] = _minhash_md5_sql()
    sql["q_simhash_neardup_md5"] = _simhash_md5_sql()
    for tname, otype in ONTOLOGY_TYPES.items():
        sql[f"kg_{tname.lower()}_formatted"] = _kg_formatted_sql(otype)
    sql["kg_gene_formatted_unique"] = _kg_formatted_sql(
        ONTOLOGY_TYPES["Gene"], "UNIQUE"
    )
    sql["kg_disease_formatted_unique"] = _kg_formatted_sql(
        ONTOLOGY_TYPES["Disease"], "UNIQUE"
    )
    sql["kg_gene_dedup"] = _kg_dedup_sql(ONTOLOGY_TYPES["Gene"])
    sql["kg_disease_dedup"] = _kg_dedup_sql(ONTOLOGY_TYPES["Disease"])
    sql["kg_gene_routing"] = _kg_routing_sql(ONTOLOGY_TYPES["Gene"])
    sql["kg_disease_routing"] = _kg_routing_sql(ONTOLOGY_TYPES["Disease"])

    # A7/P4 namespace canonicalization (dictionary_build.normalize_curie)
    from ontology_matcher_spark.ontology_types import ALL_NAMESPACES

    ns_case = " ".join(
        f"WHEN '{ns.upper()}' THEN '{ns}'" for ns in ALL_NAMESPACES
    )
    sql["kg_normalize_curie"] = f"""
WITH e AS (SELECT DISTINCT dst_curie FROM {_EDGES_PQ}),
m AS (
  SELECT dst_curie AS original,
    CASE WHEN length(dst_curie) % 3 = 0
         THEN lower(split_part(dst_curie, ':', 1)) || ':'
              || split_part(dst_curie, ':', 2)
         WHEN length(dst_curie) % 3 = 1 THEN replace(dst_curie, ':', '_')
         ELSE dst_curie END AS mangled
  FROM e
),
n0 AS (
  SELECT original, mangled,
    CASE WHEN strpos(mangled, ':') = 0 AND strpos(mangled, '_') > 0
         THEN regexp_replace(mangled, '_', ':')
         ELSE mangled END AS c
  FROM m
),
n1 AS (
  SELECT original, mangled, c, split_part(c, ':', 1) AS prefix,
         substring(c, length(split_part(c, ':', 1)) + 2) AS local
  FROM n0
)
SELECT original, mangled,
  CASE WHEN strpos(c, ':') = 0 THEN c
       WHEN (CASE upper(prefix) {ns_case} END) IS NOT NULL
       THEN (CASE upper(prefix) {ns_case} END) || ':' || local
       ELSE c END AS normalized
FROM n1 ORDER BY original"""
    # multimodal plumbing: the fake featurizer's width/height are the
    # first two sha256(media_ref) bytes + 64 — byte-reproducible in SQL
    sql["kg_media_features"] = f"""
WITH sp AS (
  SELECT doc_id, CAST(g - 1 AS INT) AS span_idx, spans[g] AS span
  FROM {_DOCS_FX_PQ},
       LATERAL (SELECT unnest(generate_series(1, len(spans))) AS g)
)
SELECT doc_id, span_idx, span.media_ref AS media_ref, span.kind AS kind,
  CAST(64 + ('0x' || substr(sha256(span.media_ref), 1, 2))::INT AS INT)
    AS width,
  CAST(64 + ('0x' || substr(sha256(span.media_ref), 3, 2))::INT AS INT)
    AS height
FROM sp WHERE span.kind <> 'text'
ORDER BY doc_id, span_idx"""

    # detection exact tier (name/synonym surfaces): token n-grams up
    # to _MAX_SURFACE_TOKENS equi-joined vs the normalized surface
    # table — the relational restatement of the detector's head-token
    # index scan (mention_detect._scan_text)
    norm = "trim(regexp_replace(lower({}), '[^a-z0-9]+', ' ', 'g'))"
    sql["kg_detected_exact"] = f"""
WITH sp AS (
  SELECT doc_id, CAST(g - 1 AS INT) AS span_idx, spans[g] AS span
  FROM {_DOCS_FX_PQ},
       LATERAL (SELECT unnest(generate_series(1, len(spans))) AS g)
),
txt AS (
  SELECT doc_id, span_idx,
         string_split({norm.format("span.text")}, ' ') AS t
  FROM sp
  WHERE span.kind = 'text' AND span.text IS NOT NULL AND span.text <> ''
),
grams AS (
  SELECT doc_id, span_idx, array_to_string(t[i:i+n-1], ' ') AS surface
  FROM (
    SELECT doc_id, span_idx, t, unnest(generate_series(1, 6)) AS n
    FROM txt
  ) tn,
  LATERAL (SELECT unnest(generate_series(1, len(t) - n + 1)) AS i) pos
),
names AS (
  SELECT {norm.format("name")} AS surface, curie, 'name' AS match_type
  FROM {_TERMS_PQ}
),
syns AS (
  SELECT {norm.format("s")} AS surface, curie, 'synonym' AS match_type
  FROM (
    SELECT curie, {norm.format("name")} AS n_name,
           unnest(coalesce(synonyms, [])) AS s
    FROM {_TERMS_PQ}
  )
  WHERE {norm.format("s")} <> n_name
),
surf AS (
  SELECT DISTINCT surface, curie, match_type
  FROM (SELECT * FROM names UNION ALL SELECT * FROM syns)
  WHERE surface <> '' AND len(string_split(surface, ' ')) <= 6
)
SELECT DISTINCT doc_id, span_idx, surface, curie AS id, match_type
FROM grams JOIN surf USING (surface)
ORDER BY doc_id, span_idx, surface, id, match_type"""

    # detection fuzzy tier: the detector's SymSpell symmetric-deletion
    # match restated relationally — candidate tokens (≥5 chars, no
    # exact n-gram hit at their position) and single-token name
    # surfaces each explode their d=1 deletion variants; variant
    # equi-join proposes pairs, levenshtein ≤ 1 verifies
    sql["kg_detected_fuzzy"] = f"""
WITH sp AS (
  SELECT doc_id, CAST(g - 1 AS INT) AS span_idx, spans[g] AS span
  FROM {_DOCS_FX_PQ},
       LATERAL (SELECT unnest(generate_series(1, len(spans))) AS g)
),
txt AS (
  SELECT doc_id, span_idx,
         string_split({norm.format("span.text")}, ' ') AS t
  FROM sp
  WHERE span.kind = 'text' AND span.text IS NOT NULL AND span.text <> ''
),
names AS (
  SELECT {norm.format("name")} AS surface, curie, 'name' AS match_type
  FROM {_TERMS_PQ}
),
syns AS (
  SELECT {norm.format("s")} AS surface, curie, 'synonym' AS match_type
  FROM (
    SELECT curie, {norm.format("name")} AS n_name,
           unnest(coalesce(synonyms, [])) AS s
    FROM {_TERMS_PQ}
  )
  WHERE {norm.format("s")} <> n_name
),
surf AS (
  SELECT DISTINCT surface, curie, match_type
  FROM (SELECT * FROM names UNION ALL SELECT * FROM syns)
  WHERE surface <> '' AND len(string_split(surface, ' ')) <= 6
),
toks AS (
  SELECT doc_id, span_idx, i, t[i] AS tok
  FROM txt, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i)
),
hits AS (
  SELECT DISTINCT doc_id, span_idx, i
  FROM (
    SELECT doc_id, span_idx, t, unnest(generate_series(1, 6)) AS n
    FROM txt
  ) tn,
  LATERAL (SELECT unnest(generate_series(1, len(t) - n + 1)) AS i) pos
  JOIN surf ON array_to_string(t[i:i+n-1], ' ') = surf.surface
),
cand_toks AS (
  SELECT DISTINCT tk.doc_id, tk.span_idx, tk.tok
  FROM toks tk ANTI JOIN hits h USING (doc_id, span_idx, i)
  WHERE len(tk.tok) >= 5
),
tok_vars AS (
  SELECT tok,
    CASE WHEN i = 0 THEN tok
         ELSE substr(tok, 1, i - 1) || substr(tok, i + 1) END AS variant
  FROM (SELECT DISTINCT tok FROM cand_toks),
       LATERAL (SELECT unnest(generate_series(0, len(tok))) AS i)
),
fuzzy_surf AS (
  SELECT DISTINCT surface FROM surf
  WHERE match_type = 'name' AND strpos(surface, ' ') = 0
        AND len(surface) >= 5
),
surf_vars AS (
  SELECT surface,
    CASE WHEN i = 0 THEN surface
         ELSE substr(surface, 1, i - 1) || substr(surface, i + 1) END AS variant
  FROM fuzzy_surf,
       LATERAL (SELECT unnest(generate_series(0, len(surface))) AS i)
),
pairs AS (
  SELECT DISTINCT tv.tok, sv.surface
  FROM tok_vars tv JOIN surf_vars sv USING (variant)
  WHERE tv.tok <> sv.surface AND levenshtein(tv.tok, sv.surface) <= 1
)
SELECT DISTINCT ct.doc_id, ct.span_idx, ct.tok AS surface,
       s.curie AS id, 'fuzzy' AS match_type
FROM cand_toks ct
JOIN pairs p ON ct.tok = p.tok
JOIN surf s ON s.surface = p.surface AND s.match_type = 'name'
ORDER BY doc_id, span_idx, surface, id"""

    gene = ONTOLOGY_TYPES["Gene"]
    sql["kg_xref_triples"] = f"""WITH fmt AS ({_kg_formatted_sql(gene)}),
ex AS (
  SELECT id AS subj,
         unnest(list_filter(string_split(xrefs, '|'), x -> x <> '')) AS obj
  FROM fmt
)
SELECT DISTINCT subj, 'xref' AS pred, obj FROM ex
WHERE subj <> obj ORDER BY subj, obj"""
    return sql


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "q_pricing_summary": q_pricing_summary,
        "q_revenue_by_nation": q_revenue_by_nation,
        "q_top_orders_per_segment": q_top_orders_per_segment,
        "q_events_hourly": q_events_hourly,
        "q_part_brand_stats": q_part_brand_stats,
        "q_supplier_balance_by_region": q_supplier_balance_by_region,
        "q_token_count": q_token_count,
        "q_quality": q_quality,
        "q_langid": q_langid,
        "q_fingerprint": q_fingerprint,
        "q_exact_dedup": q_exact_dedup,
        "q_ngram_jaccard": q_ngram_jaccard,
        "q_minhash_pairs": q_minhash_pairs,
        "q_minhash_pairs_md5": q_minhash_pairs_md5,
        "q_cosine_topk": q_cosine_topk,
        "q_ivf_topk": q_ivf_topk,
        "q_ivf_topk_batch": q_ivf_topk_batch,
        "q_lsh_neardup": q_lsh_neardup,
        "q_lsh_neardup_full": q_lsh_neardup_full,
        "q_simhash_neardup": q_simhash_neardup,
        "q_simhash_neardup_md5": q_simhash_neardup_md5,
        "kg_normalize_curie": kg_normalize_curie,
        "kg_canonical": kg_canonical,
        "kg_isa_triples": kg_isa_triples,
        "kg_xref_triples": kg_xref_triples,
        "kg_gene_routing": _kg_routing("Gene"),
        "kg_disease_routing": _kg_routing("Disease"),
        "kg_detected_mentions": kg_detected_mentions,
        "kg_detected_exact": kg_detected_exact,
        "kg_detected_fuzzy": kg_detected_fuzzy,
        "kg_media_features": kg_media_features,
        "kg_media_header": kg_media_header,
        "kg_media_embed": kg_media_embed,
    }
    from ontology_matcher_spark.ontology_types import Strategy

    for tname in ONTOLOGY_TYPES:
        q[f"kg_{tname.lower()}_formatted"] = _kg_formatted(tname)
    q["kg_gene_formatted_unique"] = _kg_formatted("Gene", Strategy.UNIQUE)
    q["kg_disease_formatted_unique"] = _kg_formatted("Disease", Strategy.UNIQUE)
    q["kg_gene_dedup"] = _kg_dedup("Gene")
    q["kg_disease_dedup"] = _kg_dedup("Disease")
    return q
