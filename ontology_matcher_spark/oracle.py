"""Pure-Python oracle: a direct transcription of the reference's
routing semantics (SURVEY.md §2.8) over the dictionary fixtures.

Match phase mirrors
/root/reference/ontology_matcher/disease/__init__.py:102-178
(_format_response) with the OxO call replaced by the xref-edge
dictionary; format phase mirrors
/root/reference/ontology_matcher/ontology_formatter.py:675-771
(default_format). The Spark pipeline must reproduce this oracle
exactly (set-based comparison); parity tests diff the two.

Deviations from the reference, by design (documented in SURVEY.md):
- invalid ids are routed to the failed channel with a reason instead
  of aborting the run (ref ontology_formatter.py:302-303 raises);
- pipe-joined multi-value fields are sorted for determinism (the
  reference uses Python set order: ontology_formatter.py:544-553);
- metadata is the term-table row of the resolved canonical id
  (uniform MyDisease-style update_metadata, apis.py:1011-1076).
"""

from __future__ import annotations

import re
from collections import defaultdict

from ontology_matcher_spark.ontology_types import (
    CURIE_LOCAL_PATTERN,
    OntologyType,
    Strategy,
)

R_NO_RESULTS = "No results found"
R_MULTI = "Multiple results found"
R_UNIQUE_MULTI = "The strategy is unique, but multiple results found"
R_BAD_PREFIX = "Invalid prefix"
R_BAD_FORMAT = "Invalid id format"

_LOCAL_RE = re.compile(rf"^{CURIE_LOCAL_PATTERN}$")


def join_lst(value) -> str:
    """Pipe-join normalize: split on |, drop empties, dedup, sort
    (ref ontology_formatter.py:544-553; sort replaces set order)."""
    items: list[str] = []
    if value is None:
        return ""
    if isinstance(value, str):
        value = [value]
    for v in value:
        if v is None:
            continue
        items.extend(p for p in str(v).split("|") if p)
    return "|".join(sorted(set(items)))


def concat(a, b) -> list:
    """Set-union of two str/list operands (ref of.py:555-568)."""
    out = []
    for v in (a, b):
        if v is None or v == "":
            continue
        if isinstance(v, str):
            out.append(v)
        else:
            out.extend(x for x in v if x)
    seen, uniq = set(), []
    for x in out:
        if x not in seen:
            seen.add(x)
            uniq.append(x)
    return uniq


def match(
    mentions: list[dict],
    xref_edges: list[dict],
    otype: OntologyType,
    strategy: Strategy = Strategy.MIXTURE,
) -> tuple[list[dict], list[dict]]:
    """Match phase → (converted, failed).

    converted rows: {idx, raw_id, metadata_key, <ns>: None|str|list}
    failed rows:    {idx, id, reason}
    """
    # distance-1 adjacency restricted to this entity type's namespaces
    adj: dict[str, dict[str, list[str]]] = defaultdict(lambda: defaultdict(list))
    for e in xref_edges:
        if e["dst_ns"] in otype.choices:
            adj[e["src_curie"]][e["dst_ns"]].append(e["dst_curie"])

    converted: list[dict] = []
    failed: list[dict] = []
    for idx, row in enumerate(mentions):
        raw_id = row["id"]
        if raw_id is None or ":" not in str(raw_id):
            failed.append({"idx": idx, "id": raw_id, "reason": R_BAD_FORMAT})
            continue
        prefix, local = str(raw_id).split(":", 1)
        if prefix not in otype.choices:
            failed.append({"idx": idx, "id": raw_id, "reason": R_BAD_PREFIX})
            continue
        if not _LOCAL_RE.match(local):
            failed.append({"idx": idx, "id": raw_id, "reason": R_BAD_FORMAT})
            continue
        neigh = adj.get(raw_id)
        if not neigh:
            failed.append({"idx": idx, "id": raw_id, "reason": R_NO_RESULTS})
            continue
        conv: dict = {"idx": idx, "raw_id": raw_id, prefix: raw_id}
        dead = False
        for choice in otype.choices:
            if choice == prefix:
                continue
            matched = sorted(set(neigh.get(choice, [])))
            if matched:
                conv[choice] = matched if len(matched) > 1 else matched[0]
                if choice == otype.default and len(matched) > 1:
                    failed.append({"idx": idx, "id": raw_id, "reason": R_MULTI})
                    dead = True
                    break
                if strategy == Strategy.UNIQUE and len(matched) > 1:
                    failed.append({"idx": idx, "id": raw_id, "reason": R_UNIQUE_MULTI})
                    dead = True
                    break
            else:
                conv[choice] = None
        if not dead:
            converted.append(conv)
    return converted, failed


def _first_record(mentions: list[dict]) -> dict[str, dict]:
    """raw_id → first mention row (ref get_raw_record first-row-wins,
    ontology_formatter.py:604-605)."""
    first: dict[str, dict] = {}
    for row in mentions:
        first.setdefault(row["id"], row)
    return first


def format_output(
    mentions: list[dict],
    converted: list[dict],
    failed: list[dict],
    terms: list[dict],
    otype: OntologyType,
    strategy: Strategy = Strategy.MIXTURE,
) -> tuple[list[dict], list[dict]]:
    """Format phase → (formatted, failed_formatted), each a list of
    all-string dicts with FORMATTED_COLUMNS / FAILED_COLUMNS keys."""
    term_by_curie = {t["curie"]: t for t in terms}
    records = _first_record(mentions)
    cols = ["id", "name", "label", "resource", "description", "synonyms",
            "pmids", "taxid", "xrefs"]

    formatted: list[dict] = []
    failed_fmt: list[dict] = []

    for conv in converted:
        raw_id = conv["raw_id"]
        default_val = conv.get(otype.default)
        record = records[raw_id]
        new = {c: (record.get(c) or "") for c in cols}

        canonical = None
        if isinstance(default_val, str):
            canonical = default_val
        elif isinstance(default_val, list) and len(default_val) == 1:
            canonical = default_val[0]
        metadata = term_by_curie.get(canonical or raw_id)
        md_xrefs: list = []
        md_pmids: list = []
        if metadata:
            if otype.metadata_mode == "gene":
                # gene/__init__.py:332-354: SYMBOL→name, summary→
                # description (no raw fallback), taxid from metadata,
                # synonyms = alias+other_names ∪ {md name} ∪ raw
                new["name"] = (
                    metadata.get("symbol")
                    or metadata.get("name")
                    or new["name"]
                )
                new["description"] = metadata.get("description") or ""
                new["taxid"] = metadata.get("taxid") or ""
                syn = list(metadata.get("synonyms", []))
                if metadata.get("name"):
                    syn.append(metadata["name"])
                new["synonyms"] = concat(syn, new["synonyms"])
            else:
                new["name"] = metadata.get("name") or new["name"]
                new["description"] = (
                    metadata.get("description") or new["description"]
                )
                new["synonyms"] = concat(
                    metadata.get("synonyms", []), new["synonyms"]
                )
            md_xrefs = list(metadata.get("xrefs", []) or [])
            md_pmids = list(metadata.get("pmids", []) or [])

        alias = []
        for ns in otype.choices:
            if ns == otype.default:
                continue
            v = conv.get(ns)
            if isinstance(v, list):
                alias.extend(v)
            elif isinstance(v, str):
                alias.append(v)
        alias = [a for a in dict.fromkeys(alias) if a]
        xrefs = concat(concat(alias, md_xrefs), new["xrefs"])

        new["synonyms"] = join_lst(new["synonyms"])
        new["pmids"] = join_lst(concat(md_pmids, new["pmids"]))

        if default_val is None:
            new["id"] = raw_id
            new["xrefs"] = join_lst(xrefs)
            new["raw_id"] = ""
            formatted.append(new)
        elif isinstance(default_val, list) and len(default_val) > 1:
            new["xrefs"] = join_lst(concat(default_val, xrefs))
            new["reason"] = R_MULTI
            failed_fmt.append(new)
        else:
            new["raw_id"] = raw_id
            new["id"] = canonical
            new["resource"] = record.get("resource") or ""
            new["label"] = otype.type
            new["xrefs"] = join_lst(xrefs)
            formatted.append(new)

    for f in failed:
        fid = f["id"]
        prefix = str(fid).split(":", 1)[0] if ":" in str(fid) else ""
        record = records[fid]
        new = {c: (record.get(c) or "") for c in cols}
        new["id"] = fid
        new["label"] = otype.type
        new["resource"] = record.get("resource") or ""
        if prefix == otype.default or strategy == Strategy.MIXTURE:
            new["raw_id"] = ""
            formatted.append(new)
        else:
            new["reason"] = f["reason"]
            failed_fmt.append(new)

    return formatted, failed_fmt


def connected_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Union-find CC over undirected edges → node → min-member rep."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in list(parent)}


def canonical_assignment(
    edges: list[tuple[str, str]], default_ns: str
) -> dict[str, str]:
    """node → canonical member: min default-ns member of its component,
    else min member (the explicit form of the reference's stubbed dedup,
    cli.py:168-296)."""
    comp = connected_components(edges)
    members: dict[str, list[str]] = defaultdict(list)
    for n, r in comp.items():
        members[r].append(n)
    canon: dict[str, str] = {}
    for r, ns in members.items():
        defaults = sorted(m for m in ns if m.startswith(default_ns + ":"))
        c = defaults[0] if defaults else min(ns)
        for m in ns:
            canon[m] = c
    return canon


# ------------------------------------------------------ mention detection
#: tie-break ladder rank per match type (mention_detect.rank_candidates)
MATCH_RANK = {"exact-id": 0, "xref": 1, "name": 2, "synonym": 3, "fuzzy": 4}


def _one_edit_apart(a: str, b: str) -> bool:
    """Levenshtein(a, b) == 1 for a != b: one substitution, or one
    deletion from the longer string gives the shorter."""
    if len(a) < len(b):
        a, b = b, a
    if len(a) == len(b):
        return sum(x != y for x, y in zip(a, b)) == 1
    return len(a) - len(b) == 1 and any(
        a[:i] + a[i + 1 :] == b for i in range(len(a))
    )


def _fuzzy_names(d: dict) -> dict[int, list[tuple[str, list[str]]]]:
    """Single-token NAME surfaces of ≥ _FUZZY_MIN_LEN chars, with their
    name curies, bucketed by length."""
    from ontology_matcher_spark.operators.mention_detect import _FUZZY_MIN_LEN

    names: dict[int, list[tuple[str, list[str]]]] = defaultdict(list)
    for surface, hits in d["surfaces"].items():
        curies = [c for c, mt in hits if mt == "name"]
        if " " not in surface and len(surface) >= _FUZZY_MIN_LEN and curies:
            names[len(surface)].append((surface, curies))
    return names


def detect_span(
    text: str, d: dict, names: dict | None = None
) -> list[tuple[str, str, str]]:
    """→ [(surface, curie, match_type)] for one text span, over a
    `build_dictionary` / `load_detection_artifact` dictionary ``d``:
    the plain transcription of the detection kernel's semantics.

    - exact-id / xref: every literal CURIE that is a dictionary term,
      or that resolves through ``d["xref_map"]``;
    - name / synonym: at every token position, every width up to
      _MAX_SURFACE_TOKENS looked up in the surface dict;
    - fuzzy: a token of ≥ _FUZZY_MIN_LEN chars where no surface
      starts, against every single-token NAME surface of ≥
      _FUZZY_MIN_LEN chars one edit away (``names``: `_fuzzy_names`
      of ``d``, computed when not given)."""
    from ontology_matcher_spark.operators.mention_detect import (
        _CURIE_RE,
        _FUZZY_MIN_LEN,
        _MAX_SURFACE_TOKENS,
        normalize_text,
    )

    if names is None:
        names = _fuzzy_names(d)
    out: list[tuple[str, str, str]] = []
    for m in _CURIE_RE.finditer(text):
        curie = m.group(0)
        if curie in d["curies"]:
            out.append((curie, curie, "exact-id"))
        elif curie in d["xref_map"]:
            out.append((curie, d["xref_map"][curie], "xref"))
    surfaces = d["surfaces"]
    tokens = normalize_text(text).split()
    for i, tok in enumerate(tokens):
        hit = False
        for k in range(1, min(_MAX_SURFACE_TOKENS, len(tokens) - i) + 1):
            gram = " ".join(tokens[i : i + k])
            if gram in surfaces:
                hit = True
                out.extend((gram, c, mt) for c, mt in surfaces[gram])
        if hit or len(tok) < _FUZZY_MIN_LEN:
            continue
        for n in (len(tok) - 1, len(tok), len(tok) + 1):
            for surface, curies in names.get(n, ()):
                if _one_edit_apart(tok, surface):
                    out.extend((tok, c, "fuzzy") for c in curies)
    return out


def detect_documents(documents: list[dict], d: dict) -> list[tuple]:
    """Documents (doc_id, spans[kind, text, offset]) → candidate rows
    (doc_id, span_idx, offset, surface, id, match_type), one per
    `detect_span` hit of every non-empty text span."""
    names = _fuzzy_names(d)
    return [
        (doc["doc_id"], si, span["offset"], surface, curie, mt)
        for doc in documents
        for si, span in enumerate(doc["spans"] or [])
        if span["kind"] == "text" and span["text"]
        for surface, curie, mt in detect_span(span["text"], d, names)
    ]


def best_candidates(rows: list[tuple]) -> list[tuple]:
    """Candidate rows → one winner per (doc_id, span_idx, surface): the
    lowest (match_rank, id, offset, match_type), as rows (doc_id,
    span_idx, offset, surface, id, match_type, match_rank) sorted."""
    best: dict[tuple, tuple] = {}
    for doc_id, si, off, surface, curie, mt in rows:
        key = (doc_id, si, surface)
        cand = (MATCH_RANK[mt], curie, off, mt)
        if key not in best or cand < best[key]:
            best[key] = cand
    return sorted(
        (doc_id, si, off, surface, curie, mt, rank)
        for (doc_id, si, surface), (rank, curie, off, mt) in best.items()
    )
