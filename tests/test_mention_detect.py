"""Mention detection over interleaved documents: span pass-through
invariant (BASELINE.json input_hint) + detection correctness vs a
plain-Python scan."""

import os

from pyspark.sql import functions as F

from ontology_matcher_spark.operators.mention_detect import (
    best_candidate_per_mention,
    build_dictionary,
    detect_mentions,
    _scan_text,
)
from ontology_matcher_spark.operators.multimodal import extract_media_features


def _docs(spark, fixture_dir):
    return spark.read.parquet(os.path.join(fixture_dir, "documents.parquet"))


def test_span_sequence_invariant(spark, bundle, fixture_dir):
    """Round-trip through the engine's document scan must preserve
    (kind, text, media_ref, order) per row exactly."""
    docs = _docs(spark, fixture_dir)
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"]) for s in r["spans"]
        ]
        for r in docs.collect()
    }
    exp = {
        d["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"]) for s in d["spans"]
        ]
        for d in bundle.documents
    }
    assert got == exp


def test_detection_matches_python_scan(spark, bundle, fixture_dir):
    d = build_dictionary(bundle.terms)
    bc = spark.sparkContext.broadcast(d)
    got = detect_mentions(_docs(spark, fixture_dir), bc)
    got_rows = {
        (r["doc_id"], r["span_idx"], r["surface"], r["id"], r["match_type"])
        for r in got.collect()
    }
    exp_rows = set()
    for doc in bundle.documents:
        for si, span in enumerate(doc["spans"]):
            if span["kind"] != "text" or not span["text"]:
                continue
            for surface, curie, mtype in _scan_text(span["text"], d):
                exp_rows.add((doc["doc_id"], si, surface, curie, mtype))
    assert got_rows == exp_rows
    assert len(got_rows) > 100  # corpus actually contains mentions


def test_media_spans_never_detected(spark, bundle, fixture_dir):
    d = build_dictionary(bundle.terms)
    bc = spark.sparkContext.broadcast(d)
    mentions = detect_mentions(_docs(spark, fixture_dir), bc).collect()
    spans_by_doc = {doc["doc_id"]: doc["spans"] for doc in bundle.documents}
    for r in mentions:
        span = spans_by_doc[r["doc_id"]][r["span_idx"]]
        assert span["kind"] == "text"


def test_best_candidate_deterministic(spark, bundle, fixture_dir):
    d = build_dictionary(bundle.terms)
    bc = spark.sparkContext.broadcast(d)
    m = detect_mentions(_docs(spark, fixture_dir), bc)
    b1 = sorted(map(tuple, best_candidate_per_mention(m).collect()))
    b2 = sorted(map(tuple, best_candidate_per_mention(m).collect()))
    assert b1 == b2
    # exactly one winner per (doc_id, span_idx, surface)
    keys = [(t[0], t[1], t[3]) for t in b1]
    assert len(keys) == len(set(keys))


def test_media_feature_plumbing(spark, bundle, fixture_dir):
    feats = extract_media_features(_docs(spark, fixture_dir), fake=True)
    rows = feats.collect()
    n_media = sum(
        1
        for doc in bundle.documents
        for s in doc["spans"]
        if s["kind"] != "text"
    )
    assert len(rows) == n_media
    for r in rows[:20]:
        assert r["kind"] in ("image", "audio", "table")
        assert len(r["features"]) == 8
        assert r["width"] >= 64 and r["height"] >= 64


def test_xref_and_fuzzy_ladder(spark):
    """North-rule tie-break ladder: exact-id > xref > name > synonym >
    fuzzy, with the xref tier resolving THROUGH an edge and the fuzzy
    tier catching edit-distance-1 token misses."""
    from ontology_matcher_spark.operators.mention_detect import (
        _scan_text,
        best_candidate_per_mention,
        rank_candidates,
    )

    terms = [
        {"curie": "MONDO:1", "name": "glioblastoma", "synonyms": ["gbm tumor"]},
        {"curie": "MONDO:2", "name": "melanoma", "synonyms": []},
    ]
    edges = [
        {"src_curie": "DOID:9", "dst_curie": "MONDO:1"},   # xref tier
        {"src_curie": "MONDO:1", "dst_curie": "DOID:9"},   # reverse (ignored: src is a term)
        {"src_curie": "DOID:77", "dst_curie": "NOPE:1"},   # dst unknown (ignored)
    ]
    d = build_dictionary(terms, edges)
    assert d["xref_map"] == {"DOID:9": "MONDO:1"}

    hits = _scan_text(
        "Patient with glioblastoma (DOID:9, also MONDO:2) and glioblastoms.", d
    )
    by_type = {}
    for surface, curie, mtype in hits:
        by_type.setdefault(mtype, []).append((surface, curie))
    assert ("MONDO:2", "MONDO:2") in by_type["exact-id"]
    assert ("DOID:9", "MONDO:1") in by_type["xref"]           # through the edge
    assert ("glioblastoma", "MONDO:1") in by_type["name"]
    assert ("glioblastoms", "MONDO:1") in by_type["fuzzy"]    # distance 1
    # exact surface positions never also emit fuzzy
    assert ("glioblastoma", "MONDO:1") not in by_type.get("fuzzy", [])

    # ladder order end-to-end: same (doc, span, surface) prefers lower rank
    rows = [("d1", 0, 0, "DOID:9", "MONDO:1", "xref"),
            ("d1", 0, 0, "DOID:9", "MONDO:9", "fuzzy")]
    df = spark.createDataFrame(rows, ["doc_id", "span_idx", "offset", "surface", "id", "match_type"])
    best = best_candidate_per_mention(df).collect()
    assert len(best) == 1 and best[0]["match_type"] == "xref"
    ranks = {r["match_type"]: r["match_rank"] for r in rank_candidates(
        spark.createDataFrame(
            [("a", t) for t in ("exact-id", "xref", "name", "synonym", "fuzzy")],
            ["id", "match_type"],
        )
    ).collect()}
    assert ranks == {"exact-id": 0, "xref": 1, "name": 2, "synonym": 3, "fuzzy": 4}


def test_artifact_matches_broadcast_dictionary(spark, bundle, fixture_dir, tmp_path):
    """The distributed dictionary artifact (built as DataFrame jobs,
    loaded per executor) must detect the IDENTICAL mention set as the
    driver-built broadcast dictionary — the round-2 verdict's
    replacement criterion for the full-table driver collect."""
    from ontology_matcher_spark.operators.dictionary_build import (
        write_detection_artifact,
    )

    docs = _docs(spark, fixture_dir)
    terms_df = spark.read.parquet(os.path.join(fixture_dir, "ontology_terms.parquet"))
    edges_df = spark.read.parquet(os.path.join(fixture_dir, "xref_edges.parquet"))
    path = str(tmp_path / "dict-artifact")
    write_detection_artifact(terms_df, path, edges_df)

    via_path = {
        (r["doc_id"], r["span_idx"], r["surface"], r["id"], r["match_type"])
        for r in detect_mentions(docs, path).collect()
    }
    bc = spark.sparkContext.broadcast(
        build_dictionary(bundle.terms, bundle.xref_edges)
    )
    via_bc = {
        (r["doc_id"], r["span_idx"], r["surface"], r["id"], r["match_type"])
        for r in detect_mentions(docs, bc).collect()
    }
    assert via_path == via_bc
    assert len(via_path) > 100


def test_fixture_corpus_exercises_fuzzy_tier(spark, fixture_dir):
    """Guard against a vacuous kg_detected_fuzzy gate: the generated
    corpus must actually contain single-token-name terms and typo'd
    probe docs that fire the SymSpell d=1 tier (round 5 — before the
    fuzzy probes, the tier could never fire on fixture data and its
    oracle matched trivially at 0 rows)."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from ontology_matcher_spark.functions.materialize import scratch_root
    from ontology_matcher_spark.operators.dictionary_build import (
        write_detection_artifact,
    )
    from ontology_matcher_spark.operators.mention_detect import detect_mentions

    terms = spark.read.parquet(os.path.join(fixture_dir, "ontology_terms.parquet"))
    docs = spark.read.parquet(os.path.join(fixture_dir, "documents.parquet"))
    artifact = os.path.join(scratch_root(spark), f"fz-{uuid.uuid4().hex[:8]}")
    write_detection_artifact(terms, artifact)
    by_type = {
        r["match_type"]: r["n"]
        for r in detect_mentions(docs, artifact)
        .groupBy("match_type").agg(F.count("*").alias("n")).collect()
    }
    assert by_type.get("fuzzy", 0) > 0, by_type
    assert by_type.get("name", 0) > 0  # exact tiers still present


def test_null_span_list_slot_skipped():
    """A NULL span list is skipped by the validity bitmap even when its
    offset range is non-empty (Arrow does not require empty ranges
    under null slots)."""
    import pyarrow as pa

    from ontology_matcher_spark.operators.mention_detect import _scan_batch

    d = build_dictionary(
        [
            {"curie": "MONDO:1", "name": "glioblastoma", "synonyms": []},
            {"curie": "MONDO:2", "name": "melanoma", "synonyms": []},
        ]
    )
    values = pa.StructArray.from_arrays(
        [
            pa.array(["text"] * 3),
            pa.array(["glioblastoma", "melanoma", "glioblastoma"]),
            pa.array([0, 0, 0], pa.int32()),
        ],
        names=["kind", "text", "offset"],
    )
    offsets = pa.array([0, 1, 2, 3], pa.int32())
    masked = pa.ListArray.from_arrays(
        offsets, values, mask=pa.array([False, True, False])
    )
    assert masked.null_count == 1
    assert masked.offsets.to_pylist() == [0, 1, 2, 3]  # d2's range is [1, 2)
    docs = pa.array(["d1", "d2", "d3"])

    got = _scan_batch(pa.RecordBatch.from_arrays([docs, masked], ["doc_id", "spans"]), d)
    assert sorted(zip(*(got.column(c).to_pylist() for c in ("doc_id", "id")))) == [
        ("d1", "MONDO:1"), ("d3", "MONDO:1"),
    ]
    # without nulls the raw-offsets path scans every slot
    full = pa.ListArray.from_arrays(offsets, values)
    got = _scan_batch(pa.RecordBatch.from_arrays([docs, full], ["doc_id", "spans"]), d)
    assert sorted(got.column("doc_id").to_pylist()) == ["d1", "d2", "d3"]
