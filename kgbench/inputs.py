"""Seeded benchmark inputs, cached per (workload, seed), with the
expected output computed by an implementation independent of Spark.

A workload's corpus comes from ``fixtures.generate`` and is written as
parquet under ``<work>/inputs/<workload>-s<seed>-<sizes>/`` with a
``meta.json`` that records its sizes, how long generation took and —
for the linking workloads — the expected triple count and
order-independent digest. The expected triples come from the pure-Python
routing and union-find oracle (``ontology_matcher_spark.oracle``) plus
a per-label canonical pick and triple assembly written here; the
engine is never used to produce its own expected values.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass

#: column order of the triples stage; the digest hashes these fields
TRIPLE_COLUMNS = ("subj", "pred", "obj", "label", "src")

#: order-independent digest of a triples table: row count plus the sum
#: of a 64-bit md5 of every row (a sum, not an xor, so a duplicated row
#: cannot cancel itself out)
DIGEST_SQL = (
    "SELECT count(*) AS n, coalesce(sum(md5_number_lower(concat_ws("
    "chr(31), coalesce(subj, '<null>'), coalesce(pred, '<null>'), "
    "coalesce(obj, '<null>'), coalesce(label, '<null>'), "
    "coalesce(src, '<null>')))), 0)::VARCHAR AS digest FROM t"
)


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "link": run_pipeline over mentions; "detect": the detect verb
    clusters_per_type: int
    mentions_per_type: int
    n_docs: int
    types: tuple[str, ...] | None  # None = every entity type
    #: set-ups per invocation; setup_s is their median
    setups: int = 3
    #: a typical warm run's wall time; ``--seconds`` / this is the number
    #: of warm runs, fixed per invocation whatever the host's speed
    nominal_run_s: float = 5.0


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="large_ontology",
            kind="link",
            clusters_per_type=3000,
            mentions_per_type=10000,
            n_docs=0,
            types=("Gene", "Disease"),
            # a set-up is a session restart (≈ 0.1 s), so more are cheap
            setups=7,
            nominal_run_s=7.0,
        ),
        Workload(
            name="detect_docs",
            kind="detect",
            clusters_per_type=800,
            mentions_per_type=0,
            n_docs=20000,
            types=None,
            # a set-up includes a dictionary build (≈ 2 s)
            setups=3,
            nominal_run_s=3.0,
        ),
    )
}


def digest_rows(rows) -> tuple[int, str]:
    """(count, digest) of an iterable of 5-tuples in TRIPLE_COLUMNS order."""
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [[] for _ in TRIPLE_COLUMNS]
    return digest_of(
        pa.table({c: pa.array(list(v), pa.string()) for c, v in zip(TRIPLE_COLUMNS, cols)})
    )


def digest_of(t) -> tuple[int, str]:
    """(count, digest) of a pyarrow table with TRIPLE_COLUMNS."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("t", t)
        n, d = con.execute(DIGEST_SQL).fetchone()
    finally:
        con.close()
    return int(n), str(d)


def expected_triples(bundle, types: tuple[str, ...]) -> dict:
    """The triples ``run_pipeline`` must emit for ``bundle``, computed
    without Spark: per-type routing and the union-find over the xref
    pairs of every formatted row come from the pure-Python oracle; the
    per-label canonical pick (which ``oracle.canonical_assignment``,
    with its single default namespace, does not cover) and the three
    triple families are assembled here."""
    from ontology_matcher_spark import oracle
    from ontology_matcher_spark.ontology_types import ONTOLOGY_TYPES

    formatted: list[dict] = []
    n_failed = 0
    for t in types:
        otype = ONTOLOGY_TYPES[t]
        ms = [m for m in bundle.mentions if m["label"] == t]
        conv, failed = oracle.match(ms, bundle.xref_edges, otype)
        fmt, failed_fmt = oracle.format_output(
            ms, conv, failed, bundle.terms, otype
        )
        formatted.extend(fmt)
        n_failed += len(failed_fmt)

    pairs = {
        (f["id"], f["label"], x)
        for f in formatted
        for x in (f["xrefs"] or "").split("|")
        if x and x != f["id"]
    }
    edges = {(s, d) for s, _, d in pairs}
    comp = oracle.connected_components(sorted(edges))
    members: dict[str, list[str]] = defaultdict(list)
    for n, root in comp.items():
        members[root].append(n)

    node_label: dict[str, str] = {}
    for term in bundle.terms:
        c, lbl = term["curie"], term["label"]
        if c not in node_label or lbl < node_label[c]:
            node_label[c] = lbl
    defaults = {t: ONTOLOGY_TYPES[t].default + ":" for t in types}
    canon: dict[str, str] = {}
    for nodes in members.values():
        in_default = [
            n for n in nodes
            if node_label.get(n) in defaults
            and n.startswith(defaults[node_label[n]])
        ]
        pick = min(in_default) if in_default else min(nodes)
        for n in nodes:
            canon[n] = pick

    triples = set()
    for f in formatted:
        subj = f["raw_id"] or f["id"]
        triples.add((subj, "skos:exactMatch", canon.get(f["id"], f["id"]),
                     f["label"], "linker"))
    for s, lbl, d in pairs:
        triples.add((s, "xref", d, lbl, "linker"))
    for term in bundle.terms:
        if term["label"] in types and term["parent_curie"]:
            triples.add((term["curie"], "is-a", term["parent_curie"],
                         term["label"], "dictionary"))
    n, digest = digest_rows(sorted(triples))
    return {
        "triples": n,
        "digest": digest,
        "formatted": len(formatted),
        "failed": n_failed,
        "cc_edges": len(edges),
        "cc_nodes": len(comp),
        "cc_components": len(members),
    }


def _text_spans(documents: list[dict]) -> int:
    return sum(
        1 for d in documents for s in d["spans"] if s["kind"] == "text" and s["text"]
    )


def ensure_inputs(work: str, w: Workload, seed: int) -> tuple[str, dict]:
    """→ (input dir, meta). Generates on first use of (workload, seed);
    later calls read the cache. Generation happens in a temporary
    directory renamed into place, so an interrupted run leaves no
    half-written corpus behind."""
    from ontology_matcher_spark import fixtures

    d = os.path.join(
        work,
        "inputs",
        f"{w.name}-s{seed}-c{w.clusters_per_type}-m{w.mentions_per_type}-d{w.n_docs}",
    )
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return d, json.load(f)

    tmp = f"{d}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    bundle = fixtures.generate(
        seed=seed,
        clusters_per_type=w.clusters_per_type,
        mentions_per_type=w.mentions_per_type,
        n_docs=w.n_docs,
        types=list(w.types) if w.types else None,
    )
    fixtures.write_parquet(bundle, tmp)
    gen_s = time.perf_counter() - t0

    meta: dict = {
        "workload": w.name,
        "seed": seed,
        "gen_s": gen_s,
        "rows": {
            "ontology_terms": len(bundle.terms),
            "xref_edges": len(bundle.xref_edges),
            "mentions": len(bundle.mentions),
            "documents": len(bundle.documents),
        },
        "bytes": {
            name: os.path.getsize(os.path.join(tmp, f"{name}.parquet"))
            for name in ("ontology_terms", "xref_edges", "mentions", "documents")
        },
    }
    t0 = time.perf_counter()
    if w.kind == "link":
        types = w.types or tuple(bundle.clusters)
        meta["expected"] = expected_triples(bundle, types)
        meta["mentions_in"] = sum(1 for m in bundle.mentions if m["label"] in types)
    else:
        meta["text_spans"] = _text_spans(bundle.documents)
    meta["oracle_s"] = time.perf_counter() - t0
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.dirname(d), exist_ok=True)
    os.replace(tmp, d)
    return d, meta


def input_rows(w: Workload, meta: dict) -> int:
    """Rows the throughput metric divides by: mentions for the linking
    workload, documents for detection."""
    return meta["mentions_in"] if w.kind == "link" else meta["rows"]["documents"]


def input_bytes(w: Workload, meta: dict) -> int:
    """Parquet bytes a timed run reads."""
    b = meta["bytes"]
    if w.kind == "link":
        return b["mentions"] + b["ontology_terms"] + b["xref_edges"]
    return b["documents"]
