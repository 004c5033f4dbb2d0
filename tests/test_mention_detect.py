"""Mention detection over interleaved documents: span pass-through
invariant (BASELINE.json input_hint) + detection correctness of the
whole-batch Arrow kernel vs the plain-Python oracle
(`oracle.detect_span` / `oracle.best_candidates`)."""

import os
from collections import Counter

import pyarrow as pa

from ontology_matcher_spark import oracle
from ontology_matcher_spark.operators.mention_detect import (
    _detect_batch,
    _tokenize,
    best_candidate_per_mention,
    build_dictionary,
    detect_mentions,
    load_detection_artifact,
    normalize_text,
)
from ontology_matcher_spark.operators.multimodal import extract_media_features

ROW = ("doc_id", "span_idx", "offset", "surface", "id", "match_type")
DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        (
            "spans",
            pa.list_(
                pa.struct(
                    [
                        ("kind", pa.string()),
                        ("text", pa.string()),
                        ("media_ref", pa.string()),
                        ("offset", pa.int32()),
                    ]
                )
            ),
        ),
    ]
)
LADDER_TERMS = [
    {"curie": "MONDO:1", "name": "glioblastoma", "synonyms": ["gbm tumor"]},
    {"curie": "MONDO:2", "name": "melanoma", "synonyms": []},
    # a synonym equal to another term's name: the name wins on rank
    # although MONDO:0 sorts first on id
    {"curie": "MONDO:0", "name": "skin cancer", "synonyms": ["melanoma"]},
]
LADDER_EDGES = [
    {"src_curie": "DOID:9", "dst_curie": "MONDO:1"},   # xref tier
    {"src_curie": "MONDO:1", "dst_curie": "DOID:9"},   # reverse (ignored: src is a term)
    {"src_curie": "DOID:77", "dst_curie": "NOPE:1"},   # dst unknown (ignored)
]


def _docs(spark, fixture_dir):
    return spark.read.parquet(os.path.join(fixture_dir, "documents.parquet"))


def _counter(rows) -> Counter:
    return Counter(tuple(r[c] for c in ROW) for r in rows)


def _batch_counter(batch: pa.RecordBatch) -> Counter:
    return Counter(zip(*(batch.column(c).to_pylist() for c in ROW)))


def _text(text, offset=0):
    return {"kind": "text", "text": text, "media_ref": None, "offset": offset}


def _media(ref):
    return {"kind": "image", "text": None, "media_ref": ref, "offset": 0}


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
    """Broadcast path: the kernel's candidate MULTISET equals the
    oracle's (streaming entity counts count duplicate candidates)."""
    d = build_dictionary(bundle.terms)
    bc = spark.sparkContext.broadcast(d)
    got = _counter(detect_mentions(_docs(spark, fixture_dir), bc).collect())
    assert got == Counter(oracle.detect_documents(bundle.documents, d))
    assert sum(got.values()) > 100  # corpus actually contains mentions


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
    tier catching edit-distance-1 token misses — kernel and oracle
    agree on the candidates, Spark's winner pick on the ladder."""
    from ontology_matcher_spark.operators.mention_detect import rank_candidates

    d = build_dictionary(LADDER_TERMS, LADDER_EDGES)
    assert d["xref_map"] == {"DOID:9": "MONDO:1"}

    docs = [
        {
            "doc_id": "d1",
            "spans": [
                _text(
                    "Patient with glioblastoma (DOID:9, also MONDO:2), "
                    "melanoma and glioblastoms.",
                    7,
                )
            ],
        }
    ]
    exp = Counter(oracle.detect_documents(docs, d))
    got = _batch_counter(_detect_batch(pa.RecordBatch.from_pylist(docs, DOC_SCHEMA), d))
    assert got == exp

    by_type = {}
    for _, _, _, surface, curie, mtype in got:
        by_type.setdefault(mtype, []).append((surface, curie))
    assert ("MONDO:2", "MONDO:2") in by_type["exact-id"]
    assert ("DOID:9", "MONDO:1") in by_type["xref"]           # through the edge
    assert ("glioblastoma", "MONDO:1") in by_type["name"]
    assert ("melanoma", "MONDO:0") in by_type["synonym"]
    assert ("glioblastoms", "MONDO:1") in by_type["fuzzy"]    # distance 1
    # exact surface positions never also emit fuzzy
    assert ("glioblastoma", "MONDO:1") not in by_type.get("fuzzy", [])

    # ladder order end-to-end: same (doc, span, surface) prefers lower rank
    bc = spark.sparkContext.broadcast(d)
    frame = spark.createDataFrame(docs, "doc_id string, spans array<struct<"
                                  "kind:string,text:string,media_ref:string,offset:int>>")
    best = sorted(map(tuple, best_candidate_per_mention(detect_mentions(frame, bc)).collect()))
    assert best == oracle.best_candidates(list(exp.elements()))
    assert ("d1", 0, 7, "melanoma", "MONDO:2", "name", 2) in best
    ranks = {r["match_type"]: r["match_rank"] for r in rank_candidates(
        spark.createDataFrame(
            [("a", t) for t in ("exact-id", "xref", "name", "synonym", "fuzzy")],
            ["id", "match_type"],
        )
    ).collect()}
    assert ranks == oracle.MATCH_RANK


def test_artifact_matches_broadcast_dictionary(spark, bundle, fixture_dir, tmp_path):
    """The distributed dictionary artifact (built as DataFrame jobs,
    loaded per executor) must detect the IDENTICAL mention multiset as
    the `build_dictionary` broadcast, and the oracle over the loaded
    artifact agrees."""
    from ontology_matcher_spark.operators.dictionary_build import (
        write_detection_artifact,
    )

    docs = _docs(spark, fixture_dir)
    terms_df = spark.read.parquet(os.path.join(fixture_dir, "ontology_terms.parquet"))
    edges_df = spark.read.parquet(os.path.join(fixture_dir, "xref_edges.parquet"))
    path = str(tmp_path / "dict-artifact")
    write_detection_artifact(terms_df, path, edges_df)

    via_path = _counter(detect_mentions(docs, path).collect())
    bc = spark.sparkContext.broadcast(
        build_dictionary(bundle.terms, bundle.xref_edges)
    )
    via_bc = _counter(detect_mentions(docs, bc).collect())
    assert via_path == via_bc
    assert via_path == Counter(
        oracle.detect_documents(bundle.documents, load_detection_artifact(path))
    )
    assert sum(via_path.values()) > 100


def test_best_candidate_matches_oracle_ladder(spark, bundle, fixture_dir, tmp_path):
    """The production detect → winner path (artifact dictionary, Spark
    min(struct) aggregate) picks exactly the oracle's ladder winners
    on the fixture corpus."""
    from ontology_matcher_spark.operators.dictionary_build import (
        write_detection_artifact,
    )

    terms_df = spark.read.parquet(os.path.join(fixture_dir, "ontology_terms.parquet"))
    edges_df = spark.read.parquet(os.path.join(fixture_dir, "xref_edges.parquet"))
    path = str(tmp_path / "dict-artifact")
    write_detection_artifact(terms_df, path, edges_df)

    got = sorted(
        map(tuple, best_candidate_per_mention(
            detect_mentions(_docs(spark, fixture_dir), path)
        ).collect())
    )
    d = build_dictionary(bundle.terms, bundle.xref_edges)
    exp = oracle.best_candidates(oracle.detect_documents(bundle.documents, d))
    assert got == exp
    assert len(exp) > 100


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
    d = build_dictionary(LADDER_TERMS[:2])
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

    got = _detect_batch(pa.RecordBatch.from_arrays([docs, masked], ["doc_id", "spans"]), d)
    assert sorted(zip(*(got.column(c).to_pylist() for c in ("doc_id", "id")))) == [
        ("d1", "MONDO:1"), ("d3", "MONDO:1"),
    ]
    # a slice starting at the NULL slot: d3's span stays span 0 of d3
    got = _detect_batch(
        pa.RecordBatch.from_arrays([docs, masked], ["doc_id", "spans"]).slice(1), d
    )
    assert _batch_counter(got) == Counter(
        {("d3", 0, 0, "glioblastoma", "MONDO:1", "name"): 1}
    )
    # without the mask every slot is scanned
    full = pa.ListArray.from_arrays(offsets, values)
    got = _detect_batch(pa.RecordBatch.from_arrays([docs, full], ["doc_id", "spans"]), d)
    assert sorted(got.column("doc_id").to_pylist()) == ["d1", "d2", "d3"]


def test_sliced_batch_spans_relative_to_slice():
    """doc ids, span_idx and offsets of a sliced batch are those of the
    slice's own rows (Arrow slices keep the parent's buffers)."""
    d = build_dictionary(LADDER_TERMS, LADDER_EDGES)
    docs = [
        {"doc_id": "d0", "spans": [_text("melanoma", 1), _media("m0")]},
        {"doc_id": "d1", "spans": [_media("m1"), _text("gbm tumor and MONDO:2", 5)]},
        {"doc_id": "d2", "spans": [_text("glioblastoms DOID:9", 9), _text("melanoma", 11)]},
    ]
    batch = pa.RecordBatch.from_pylist(docs, DOC_SCHEMA)
    got = _batch_counter(_detect_batch(batch.slice(1), d))
    assert got == Counter(oracle.detect_documents(docs[1:], d))
    assert {r[:3] for r in got} == {("d1", 1, 5), ("d2", 0, 9), ("d2", 1, 11)}
    got = _batch_counter(_detect_batch(batch.slice(1, 1), d))
    assert got == Counter(oracle.detect_documents(docs[1:2], d))


def test_ngrams_never_cross_spans():
    """A multi-token surface split over two spans, or over two
    documents, is not a mention: n-grams stay inside one text span."""
    d = build_dictionary(LADDER_TERMS)
    docs = [
        {"doc_id": "a", "spans": [_text("about gbm"), _text("tumor now")]},
        {"doc_id": "b", "spans": [_text("skin"), _media("m"), _text("cancer")]},
        {"doc_id": "c", "spans": [_text("skin")]},
        {"doc_id": "e", "spans": [_text("cancer gbm")]},
        {"doc_id": "f", "spans": [_text("tumor: gbm  tumor")]},
    ]
    got = _batch_counter(_detect_batch(pa.RecordBatch.from_pylist(docs, DOC_SCHEMA), d))
    assert got == Counter(oracle.detect_documents(docs, d))
    assert got == Counter({("f", 0, 0, "gbm tumor", "MONDO:1", "synonym"): 1})


def test_null_empty_text_and_all_media_docs():
    """NULL and empty text spans, an all-media document and a NULL
    span list emit nothing; their neighbours keep their span_idx."""
    d = build_dictionary(LADDER_TERMS)
    docs = [
        {"doc_id": "media", "spans": [_media("a"), _media("b")]},
        {"doc_id": "holes", "spans": [_text(None), _text(""), _text("melanoma", 3)]},
        {"doc_id": "none", "spans": None},
        {"doc_id": "empty", "spans": []},
        {"doc_id": "seps", "spans": [_text(" -- "), _text("\u03a3\u03af\u03c3\u03c5\u03c6\u03bf\u03c2")]},
    ]
    got = _batch_counter(_detect_batch(pa.RecordBatch.from_pylist(docs, DOC_SCHEMA), d))
    assert got == Counter(oracle.detect_documents(docs, d))
    assert got == Counter(
        {
            ("holes", 2, 3, "melanoma", "MONDO:2", "name"): 1,
            ("holes", 2, 3, "melanoma", "MONDO:0", "synonym"): 1,
        }
    )


def test_zero_row_batch_keeps_schema():
    d = build_dictionary(LADDER_TERMS)
    batch = pa.RecordBatch.from_pylist([], DOC_SCHEMA)
    got = _detect_batch(batch, d)
    assert got.num_rows == 0
    assert got.schema == pa.schema(
        [
            ("doc_id", pa.string()),
            ("span_idx", pa.int32()),
            ("offset", pa.int32()),
            ("surface", pa.string()),
            ("id", pa.string()),
            ("match_type", pa.string()),
        ]
    )


def test_normalization_matches_jvm_on_non_ascii(spark):
    """`normalize_text` (Python), the artifact's `normalize_surface`
    (JVM) and the batch kernel's tokens agree on text whose Unicode
    lowering differs between libraries: Arrow's utf8_lower maps U+0130
    'İ' to 'i', where Python and the JVM give 'i' + U+0307."""
    from pyspark.sql import functions as F

    from ontology_matcher_spark.operators.dictionary_build import normalize_surface

    texts = [
        "\u0130stanbul",     # LATIN CAPITAL LETTER I WITH DOT ABOVE
        "\u212aelvin",       # KELVIN SIGN
        "STRA\u00dfE",
        "\u03a3\u03af\u03c3\u03c5\u03c6\u03bf\u03c2",  # all-Greek: no tokens
        "gbm\u00a0tumor",    # NO-BREAK SPACE
        "gbm\u3000tumor",    # IDEOGRAPHIC SPACE
        "Plain ASCII-text",
    ]
    py = [normalize_text(t) for t in texts]
    assert py == [
        "i stanbul", "kelvin", "stra e", "", "gbm tumor", "gbm tumor",
        "plain ascii text",
    ]
    jvm = [
        r["n"]
        for r in spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
        .select("i", normalize_surface(F.col("t")).alias("n"))
        .orderBy("i")
        .collect()
    ]
    assert jvm == py
    toks, parent = _tokenize(pa.array(texts))
    kernel = [[] for _ in texts]
    for tok, p in zip(toks.to_pylist(), parent):
        kernel[p].append(tok)
    assert kernel == [n.split() for n in py]
