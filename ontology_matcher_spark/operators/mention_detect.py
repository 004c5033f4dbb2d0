"""Stage 1 — dictionary-backed mention detection over interleaved
text + media documents (north-rule input shape; SURVEY.md §2.10).

The ONLY Python-executed stage of the pipeline: a `mapInPandas`
iterator with a broadcast dictionary, Arrow-batched. Media spans are
never touched — the detector reads ``kind == "text"`` spans only and
emits a separate mention table keyed ``(doc_id, span_idx)``; the
document rows themselves pass through unchanged (per-row
span-sequence equality is the invariant under test).

Matching strategy: surface forms (term names + synonyms) are
normalized (lowercase, punctuation→space) and indexed by token
n-gram in a plain dict; literal CURIEs in text are found with one
compiled regex and checked against the term-curie set (exact-id
match, rank 0) or resolved through the xref-edge map (rank 1);
unmatched long tokens fall through to a SymSpell-style edit-distance-1
fuzzy tier (rank 4) — the north rule's full
exact-id > xref > normalized-label > fuzzy ladder. If the optional
``ahocorasick`` package is importable we use an automaton instead of
the n-gram dict (same output; faster for 10^6-surface dictionaries).

The dictionary reaches executors one of two ways — never per task,
never per row:
- production: a parquet ARTIFACT built distributed
  (`dictionary_build.write_detection_artifact`), read per executor
  and cached per worker process (`load_detection_artifact`) — the
  driver never collects the term/edge tables;
- ad-hoc/tests: ``SparkContext.broadcast`` of `build_dictionary`.
"""

from __future__ import annotations

import re
from collections import defaultdict
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

try:  # optional fast path; absent in this container
    import ahocorasick  # type: ignore

    _HAS_AHOCORASICK = True
except Exception:  # pragma: no cover
    _HAS_AHOCORASICK = False

_MAX_SURFACE_TOKENS = 6
_NORM_RE = re.compile(r"[^a-z0-9]+")
_CURIE_RE = re.compile(r"\b([A-Za-z][A-Za-z0-9\-]*):([a-zA-Z0-9\.\*\+]+)")

MENTION_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("span_idx", IntegerType()),
        StructField("offset", IntegerType()),
        StructField("surface", StringType()),
        StructField("id", StringType()),
        StructField("match_type", StringType()),  # exact-id|xref|name|synonym|fuzzy
    ]
)


def normalize_text(s: str) -> str:
    return _NORM_RE.sub(" ", s.lower()).strip()


#: single-token surfaces at least this long participate in fuzzy
#: (edit-distance-1) matching — shorter tokens produce noise
_FUZZY_MIN_LEN = 5


def _deletions(tok: str) -> set[str]:
    return {tok[:i] + tok[i + 1 :] for i in range(len(tok))}


def _lev_le1(a: str, b: str) -> bool:
    """Levenshtein(a, b) ≤ 1 (a != b assumed cheap to pre-check)."""
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la > lb:
        a, b, la, lb = b, a, lb, la
    i = j = diff = 0
    while i < la and j < lb:
        if a[i] == b[j]:
            i += 1
            j += 1
            continue
        diff += 1
        if diff > 1:
            return False
        if la == lb:
            i += 1
        j += 1
    return True


def build_dictionary(
    terms_rows: list[dict], xref_rows: list[dict] | None = None
) -> dict[str, Any]:
    """Driver-side build of the matching dictionary from term rows
    (dicts with curie/name/synonyms) and optional xref-edge rows
    (src_curie/dst_curie). Broadcast the RESULT, not the term list.

    Surfaces are indexed by FIRST TOKEN: the scan only materializes an
    n-gram when the head token hits the index, which makes the common
    (non-matching) position O(1) instead of O(max_tokens) string
    builds. ahocorasick (if importable) would subsume this.

    Fuzzy tier: SymSpell-style symmetric-deletion index over
    single-token NAME surfaces (≥ _FUZZY_MIN_LEN chars) — a token at
    edit distance 1 from a dictionary name matches at the ladder's
    lowest rank.

    This driver-side builder is for SMALL ad-hoc vocabularies and
    tests; the production path is the DISTRIBUTED build
    (`dictionary_build.write_detection_artifact` — surface / xref /
    deletion-neighbourhood indexes computed as DataFrame jobs, written
    to parquet, loaded per executor by `load_detection_artifact`)."""
    surface_map: dict[str, list[tuple[str, str]]] = defaultdict(list)
    curie_set: set[str] = set()
    for t in terms_rows:
        curie_set.add(t["curie"])
        n = normalize_text(t["name"] or "")
        if n:
            surface_map[n].append((t["curie"], "name"))
        for syn in t.get("synonyms") or []:
            ns = normalize_text(syn)
            if ns and ns != n:
                surface_map[ns].append((t["curie"], "synonym"))
    # xref tier: a literal CURIE that is not itself a term but is a
    # known xref of one resolves THROUGH the edge (rank 1)
    xref_map: dict[str, str] = {}
    for e in xref_rows or []:
        src, dst = e["src_curie"], e["dst_curie"]
        if src not in curie_set and dst in curie_set:
            prev = xref_map.get(src)
            if prev is None or dst < prev:  # deterministic pick
                xref_map[src] = dst
    # fuzzy tier: deletion-neighborhood index over 1-token name surfaces
    fuzzy_index: dict[str, list[str]] = defaultdict(list)
    for surface, hits in surface_map.items():
        if " " in surface or len(surface) < _FUZZY_MIN_LEN:
            continue
        if not any(mt == "name" for _, mt in hits):
            continue
        for v in _deletions(surface) | {surface}:
            fuzzy_index[v].append(surface)
    return _assemble(surface_map, curie_set, xref_map, dict(fuzzy_index))


def _assemble(
    surface_map: dict[str, list[tuple[str, str]]],
    curie_set: set[str],
    xref_map: dict[str, str],
    fuzzy_index: dict[str, list[str]],
) -> dict[str, Any]:
    """Shared final assembly: head-token index + max n-gram width."""
    head_index: dict[str, list[tuple[tuple[str, ...], str, list]]] = defaultdict(list)
    max_len = 1
    for surface, hits in surface_map.items():
        toks = tuple(surface.split())
        if len(toks) > _MAX_SURFACE_TOKENS:
            continue
        max_len = max(max_len, len(toks))
        head_index[toks[0]].append((toks, surface, hits))
    return {
        "surfaces": dict(surface_map),
        "head_index": dict(head_index),
        "curies": curie_set,
        "xref_map": xref_map,
        "fuzzy_index": fuzzy_index,
        "max_tokens": max_len,
        # per-dictionary memo for the fuzzy tier (see _scan_text)
        "fuzzy_memo": {},
    }


#: fuzzy-tier memo size cap — vocabulary-bounded in practice; the cap
#: only matters for adversarial corpora of unique long tokens
_FUZZY_MEMO_MAX = 200_000


#: per-worker-process artifact cache: Python workers are reused across
#: tasks (spark.python.worker.reuse), so each executor assembles the
#: dictionary ONCE per artifact path, not once per task
_ARTIFACT_CACHE: dict[str, dict[str, Any]] = {}


def load_detection_artifact(path: str) -> dict[str, Any]:
    """Executor-side load of a `write_detection_artifact` directory
    (plain pyarrow — no SparkSession on workers). Replaces the
    round-2 full-table driver collect: the driver never materializes
    the term/edge tables; each executor reads the compact parquet
    artifact from shared storage and assembles the same dict
    `build_dictionary` would have produced.

    Memory bound (measured in this sandbox, see BASELINE.md): a
    589,823-term dictionary (the reference's full gene corpus,
    README.md:99 — 810k surfaces + 724k fuzzy variants) assembles in
    ~11 s to ~0.7 GB RSS delta per worker process — acceptable on
    production executors (4-8 GB/core). Workers share nothing, so the
    per-executor cost is bounded by worker reuse + this cache.

    The cache key includes the artifact's stamped ``_FINGERPRINT``
    (one tiny file read per task): rebuilding an artifact IN PLACE
    from different dictionary inputs must invalidate reused workers'
    cached assembly, or they keep serving the old dictionary."""
    import os

    key = (path, _artifact_stamp(os.path.join(path, "_FINGERPRINT")))
    d = _ARTIFACT_CACHE.get(key)
    if d is not None:
        return d

    import pyarrow.parquet as pq

    def cols(sub: str, names: list[str]) -> list:
        t = pq.read_table(os.path.join(path, sub), columns=names)
        return [t.column(n).to_pylist() for n in names]

    surface_map: dict[str, list[tuple[str, str]]] = defaultdict(list)
    for s, c, mt in zip(*cols("surfaces", ["surface", "curie", "match_type"])):
        surface_map[s].append((c, mt))
    for hits in surface_map.values():
        hits.sort()  # parquet row order is shuffle-dependent; pin it
    (curies,) = cols("curies", ["curie"])
    xs, xd = cols("xrefs", ["src_curie", "dst_curie"])
    fuzzy_index: dict[str, list[str]] = defaultdict(list)
    fv, fs = cols("fuzzy", ["variant", "surface"])
    for v, s in zip(fv, fs):
        fuzzy_index[v].append(s)
    d = _assemble(
        dict(surface_map), set(curies), dict(zip(xs, xd)), dict(fuzzy_index)
    )
    while len(_ARTIFACT_CACHE) >= 2:  # bound reused-worker memory across runs
        _ARTIFACT_CACHE.pop(next(iter(_ARTIFACT_CACHE)))
    _ARTIFACT_CACHE[key] = d
    return d


def _artifact_stamp(fp_path: str) -> str:
    """Contents of the artifact's _FINGERPRINT marker ("" when the
    artifact predates fingerprint stamping).

    Local-FS read by design: the WHOLE executor load path
    (`load_detection_artifact`) reads the artifact with plain
    pyarrow/local paths, so artifacts live on storage every executor
    can open locally (local disk, NFS, or a fuse-mounted object
    store). If a raw-scheme (hdfs://, s3://) artifact location is ever
    supported, both this stamp read AND the pyarrow loads must move to
    a scheme-aware filesystem together — a scheme path today fails
    loudly at load, it does not silently degrade."""
    try:
        with open(fp_path) as f:
            return f.read().strip()
    except OSError:
        return ""


def _scan_text(
    text: str, d: dict[str, Any]
) -> list[tuple[str, str, str]]:
    """→ [(surface, curie, match_type)] for one text span."""
    out: list[tuple[str, str, str]] = []
    # exact-id (rank 0): literal CURIEs present in the dictionary;
    # xref (rank 1): literal CURIEs resolving through a known edge
    xref_map = d.get("xref_map") or {}
    for m in _CURIE_RE.finditer(text):
        curie = m.group(0)
        if curie in d["curies"]:
            out.append((curie, curie, "exact-id"))
        elif curie in xref_map:
            out.append((curie, xref_map[curie], "xref"))
    # name/synonym (ranks 2/3): head-token index over normalized token
    # stream — O(1) per non-matching position, n-gram built on head hits
    tokens = normalize_text(text).split()
    head_index = d["head_index"]
    fuzzy_index = d.get("fuzzy_index") or {}
    surfaces = d["surfaces"]
    n = len(tokens)
    for i in range(n):
        tok = tokens[i]
        hit_here = False
        cands = head_index.get(tok)
        if cands:
            for toks, surface, hits in cands:
                k = len(toks)
                if i + k <= n and tuple(tokens[i : i + k]) == toks:
                    hit_here = True
                    for curie, mtype in hits:
                        out.append((surface, curie, mtype))
        # fuzzy (rank 4): single tokens at edit distance 1 from a
        # dictionary NAME, only where nothing matched exactly. The
        # deletion-neighbourhood probe allocates len(tok) strings per
        # token — ~25% of kernel time profiled — and is a pure function
        # of the token, so results are memoized per dictionary
        # (vocabulary-bounded; cleared at _FUZZY_MEMO_MAX to bound a
        # reused worker's memory on adversarial corpora)
        if not hit_here and len(tok) >= _FUZZY_MIN_LEN:
            memo = d.get("fuzzy_memo")
            hits2 = memo.get(tok) if memo is not None else None
            if hits2 is None:
                hits2 = []
                seen: set[str] = set()
                for v in _deletions(tok) | {tok}:
                    for surface in fuzzy_index.get(v, ()):
                        if surface in seen or surface == tok:
                            continue
                        seen.add(surface)
                        if _lev_le1(tok, surface):
                            for curie, mtype in surfaces[surface]:
                                if mtype == "name":
                                    hits2.append((tok, curie, "fuzzy"))
                if memo is not None:
                    if len(memo) >= _FUZZY_MEMO_MAX:
                        memo.clear()
                    memo[tok] = hits2
            out.extend(hits2)
    return out


def _scan_batch(batch, d: dict):
    """One Arrow batch of documents(doc_id, spans) → one batch of
    mention rows (MENTION_SCHEMA columns)."""
    import pyarrow as pa

    doc_ids = batch.column(0).to_pylist()
    spans = batch.column(1)  # ListArray<StructArray>
    # raw offsets index into .values absolutely (correct for sliced
    # arrays too). A NULL span list need not have an empty offset
    # range, so NULL slots are skipped by the validity bitmap — read
    # only when the batch has nulls.
    off = spans.offsets.to_pylist()
    valid = spans.is_valid().to_pylist() if spans.null_count else None
    vals = spans.values
    kinds = vals.field("kind").to_pylist()
    texts = vals.field("text").to_pylist()
    soffs = vals.field("offset").to_pylist()
    c_doc: list[str] = []
    c_si: list[int] = []
    c_off: list[int] = []
    c_surface: list[str] = []
    c_id: list[str] = []
    c_mt: list[str] = []
    for i, did in enumerate(doc_ids):
        if valid is not None and not valid[i]:
            continue
        base = off[i]
        for j in range(base, off[i + 1]):
            if kinds[j] != "text" or not texts[j]:
                continue  # media spans pass through untouched
            si = j - base
            so = int(soffs[j])
            for surface, curie, mtype in _scan_text(texts[j], d):
                c_doc.append(did)
                c_si.append(si)
                c_off.append(so)
                c_surface.append(surface)
                c_id.append(curie)
                c_mt.append(mtype)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(c_doc, pa.string()),
            pa.array(c_si, pa.int32()),
            pa.array(c_off, pa.int32()),
            pa.array(c_surface, pa.string()),
            pa.array(c_id, pa.string()),
            pa.array(c_mt, pa.string()),
        ],
        names=["doc_id", "span_idx", "offset", "surface", "id", "match_type"],
    )


def detect_mentions(documents: DataFrame, dictionary) -> DataFrame:
    """documents(doc_id, spans[]) → mention rows (MENTION_SCHEMA).

    ``dictionary`` is either a ``Broadcast`` of ``build_dictionary(...)``
    (small ad-hoc vocabularies) or a ``str`` path to a
    ``write_detection_artifact`` directory — the production form: the
    artifact is built distributed, read per executor, and cached per
    worker process (`load_detection_artifact`), so neither the driver
    nor the task closure ever carries the term table.
    """
    artifact_path = dictionary if isinstance(dictionary, str) else None

    def run(batches):
        d = (
            load_detection_artifact(artifact_path)
            if artifact_path is not None
            else dictionary.value
        )
        for batch in batches:  # pyarrow.RecordBatch
            yield _scan_batch(batch, d)

    # mapInArrow, not mapInPandas: the spans column is a list<struct>,
    # which the pandas path converts to a Python dict per span — at
    # bench scale that conversion cost more than the matching itself.
    # Arrow hands us the list offsets and the flat kind/text/offset
    # child arrays directly.
    return documents.select("doc_id", "spans").mapInArrow(run, MENTION_SCHEMA)


def rank_candidates(mentions: DataFrame) -> DataFrame:
    """Tie-break ladder rank for detected mention candidates — the
    north rule's full ladder (SURVEY.md §2.5 W4; reference priority
    order cli.py:231-241): exact-id > xref > normalized-label
    (name, then synonym) > fuzzy; deterministic trailing sort on
    candidate id."""
    rank = (
        F.when(F.col("match_type") == "exact-id", 0)
        .when(F.col("match_type") == "xref", 1)
        .when(F.col("match_type") == "name", 2)
        .when(F.col("match_type") == "synonym", 3)
        .otherwise(4)  # fuzzy
    )
    return mentions.withColumn("match_rank", rank)


def best_candidate_per_mention(mentions: DataFrame) -> DataFrame:
    """One winning candidate per (doc_id, span_idx, surface),
    deterministic on (match_rank, id).

    min(struct) aggregate, not a row_number window: the aggregate
    combines map-side, so the shuffle carries one row per mention per
    partition instead of EVERY candidate row (the window shipped and
    sorted the full candidate multiset — the detection stage's widest
    exchange). The struct's field order (match_rank, id, offset,
    match_type) is the total order; rows tying on (match_rank, id)
    are identical in the remaining fields (offset is constant per
    span, match_type is a function of match_rank), so the winner
    matches the window form exactly."""
    best = (
        rank_candidates(mentions)
        .groupBy("doc_id", "span_idx", "surface")
        .agg(
            F.min(
                F.struct("match_rank", "id", "offset", "match_type")
            ).alias("__b")
        )
    )
    return best.select(
        "doc_id",
        "span_idx",
        F.col("__b.offset").alias("offset"),
        "surface",
        F.col("__b.id").alias("id"),
        F.col("__b.match_type").alias("match_type"),
        F.col("__b.match_rank").alias("match_rank"),
    )
