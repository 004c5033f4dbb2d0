"""Linking: mention CURIE → routed canonical id → formatted row.

The one linking implementation, for any set of entity types. A mixed-
label mention table is linked in one dataflow, so the mention table —
the big input at 10^12 documents — is scanned ONCE:
- the xref dictionary is pre-aggregated ONCE into a per-source-curie
  map ns → (count, sorted candidate set) — ontology-bounded work,
- one 1:1 broadcast map-join against the mention scan (the mention
  table is never shuffled for candidate generation),
- label-conditional routing / canonical / alias expressions as flat
  map-lookup columns (when ladders over the handful of types —
  constant-folded per row).

It runs in three stages — ``_validate`` (label-keyed CURIE check),
``_route`` (candidate map + routing ladder) and ``_format`` (raw
records, metadata, output routing). The per-type entry points
(``validate_mentions``, ``generate_candidates``, ``link_mentions``)
run the same stages with ``types={otype.type: otype}`` and every
mention's label pinned to ``otype.type`` (``single_type``); the
pinned label constant-folds every ladder to that type's branch. The
parity tests hold every path against the pure-Python oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontology_matcher_spark.functions.arrays import EMPTY_ARR, label_case_sql, q
from ontology_matcher_spark.ontology_types import (
    CURIE_LOCAL_PATTERN,
    OntologyType,
    Strategy,
)
from ontology_matcher_spark.operators.format_stage import (
    metadata_exprs,
    metadata_table,
)
from ontology_matcher_spark.oracle import (
    R_BAD_FORMAT,
    R_BAD_PREFIX,
    R_MULTI,
    R_NO_RESULTS,
    R_UNIQUE_MULTI,
)

_RECORD_COLS = [
    "id", "name", "label", "resource", "description",
    "synonyms", "pmids", "taxid", "xrefs",
]


def _isin(col: str, values) -> str:
    return f"{col} IN ({', '.join(map(q, values))})"


def single_type(
    mentions: DataFrame, otype: OntologyType
) -> tuple[DataFrame, dict[str, OntologyType]]:
    """(mentions with every label pinned to ``otype.type``, the
    one-type ``types`` map): the per-type entry points' arguments for
    the stages below. The reference's per-type command ignores the
    label column; pinning it honors the declared type for every row."""
    return mentions.withColumn("label", F.lit(otype.type)), {otype.type: otype}


def _validate(mentions: DataFrame, types: dict[str, OntologyType]) -> DataFrame:
    """Add ``idx`` (when absent), ``ns``, ``local_id`` and
    ``format_reason`` (NULL = a valid CURIE for the row's type; a row
    whose label is NULL or not in ``types`` has no accepted prefix).

    The reference aborts the whole run on any malformed id
    (ontology_formatter.py:279-303); a distributed pipeline must not —
    each row is tagged with a failure reason and routed. ``idx`` is a
    column, not an iteration order: ``monotonically_increasing_id``
    preserves file order, which is all first-row-wins needs."""
    df = mentions
    if "idx" not in df.columns:
        df = df.withColumn("idx", F.monotonically_increasing_id())
    has_colon = "contains(id, ':')"
    prefix_ok = label_case_sql(types, "label", lambda o: _isin("ns", o.choices))
    local_re = q(f"^{CURIE_LOCAL_PATTERN}$")
    df = df.withColumns(
        {
            "ns": F.expr(
                f"CASE WHEN {has_colon} THEN substring_index(id, ':', 1) ELSE '' END"
            ),
            "local_id": F.expr(
                f"CASE WHEN {has_colon} THEN substring(id, instr(id, ':') + 1) "
                "ELSE '' END"
            ),
        }
    )
    return df.withColumn(
        "format_reason",
        F.expr(
            f"CASE WHEN id IS NULL OR (NOT {has_colon}) THEN {q(R_BAD_FORMAT)} "
            f"WHEN NOT coalesce({prefix_ok}, false) THEN {q(R_BAD_PREFIX)} "
            f"WHEN NOT (local_id RLIKE {local_re}) THEN {q(R_BAD_FORMAT)} END"
        ),
    )


def _route(
    validated: DataFrame,
    xref_edges: DataFrame,
    types: dict[str, OntologyType],
    strategy: Strategy,
) -> DataFrame:
    """``_validate`` output × xref dictionary → one row per mention:
    idx, raw_id, ns, label, reason (NULL = converted; a format failure
    takes precedence over the routing ladder), cand_default (sorted
    default-namespace candidates; [raw_id] in the own namespace) and
    aliases (sorted non-default candidates, own id included)."""
    all_ns: list[str] = sorted({ns for t in types.values() for ns in t.choices})
    unique = "true" if strategy == Strategy.UNIQUE else "false"

    # ---- pre-aggregated candidate map + ONE 1:1 broadcast join -------
    # The round-1 shape collected 22 per-namespace ARRAYS per mention
    # (allocation/GC storm); rounds 2-4 joined mentions against the
    # EDGE LIST (broadcast) and re-aggregated per mention — correct,
    # but the widest shuffle in the pipeline: |mentions| × edge
    # multiplicity rows into a |mentions|-group aggregation. At 10^12
    # mentions that shuffle is corpus-bounded. This round the per-ns
    # counts and sorted candidate sets are aggregated ONCE on the
    # dictionary side (ontology-bounded: one row per src curie), and
    # the mention scan does a 1:1 broadcast map-join — every routing
    # quantity below is a flat map-lookup expression, and the mention
    # table is never shuffled for candidate generation at all.
    # collect_set dedups, so cnt = size(cands) is the reference's set
    # size with no distinct of the edges first. It equals the number
    # of distinct (src, ns, dst) edges because XREF_EDGES.dst_curie is
    # declared non-null: only a NULL dst_curie (which collect_set
    # skips) could tell the two apart. BIGINT keeps the routing sums'
    # type.
    per_ns = (
        xref_edges.where(F.expr(_isin("dst_ns", all_ns)))
        .groupBy("src_curie", "dst_ns")
        .agg(F.expr("sort_array(collect_set(dst_curie)) AS cands"))
        .selectExpr(
            "src_curie", "dst_ns", "CAST(size(cands) AS BIGINT) AS cnt", "cands"
        )
    )
    emap = per_ns.groupBy("src_curie").agg(
        F.expr(
            "map_from_entries(collect_list(struct(dst_ns, struct(cnt, cands)))) AS xmap"
        )
    )
    # ONE pass for valid AND invalid rows (the round-5 shape ran
    # separate join subtrees for the converted and failed sides of the
    # output union: the mention table was scanned three times and the
    # xref-map / first-record aggregations each built and executed
    # twice). Invalid rows ride the same broadcast probe — their
    # routing columns are garbage gated off by format_reason, which
    # takes precedence in the reason coalesce below.
    m = validated.selectExpr(
        "idx", "id AS raw_id", "ns", "label AS mlabel", "format_reason"
    )
    joined = m.join(F.broadcast(emap), F.expr("raw_id = src_curie"), "left")

    # flatten the map ONCE into per-ns (count, candidate-set) columns:
    # every routing ladder below then references small flat
    # expressions — keeping each generated function under the codegen
    # size limits — instead of repeating GetMapValue chains per branch
    ns_i = {ns: i for i, ns in enumerate(all_ns)}
    joined = joined.selectExpr(
        "idx",
        "raw_id",
        "ns",
        "mlabel",
        "format_reason",
        *[f"coalesce(xmap[{q(ns)}].cnt, 0) AS c_{i}" for ns, i in ns_i.items()],
        *[
            f"coalesce(xmap[{q(ns)}].cands, {EMPTY_ARR}) AS a_{i}"
            for ns, i in ns_i.items()
        ],
    )

    def sz(ns: str) -> str:
        """candidate count in ``ns`` (0 when unmapped)."""
        return f"c_{ns_i[ns]}"

    def cands(ns: str) -> str:
        """sorted candidate set in ``ns`` ([] when unmapped)."""
        return f"a_{ns_i[ns]}"

    def mcase(fn) -> str:
        return label_case_sql(types, "mlabel", fn)

    ldefault = mcase(lambda o: q(o.default))
    # n_hits counts distance-1 neighbours in the MENTION's type's
    # namespaces only (per-type "No results found" semantics)
    n_hits = mcase(lambda o: " + ".join(sz(ns) for ns in o.choices))
    cand_default_raw = mcase(lambda o: cands(o.default))

    # non-default, non-own candidates of the row's type (sorted set —
    # each per-ns set is sorted, the flatten is re-sorted after dedup)
    def _aliases(o: OntologyType) -> str:
        parts = [
            f"CASE WHEN ns != {q(ns_c)} THEN {cands(ns_c)} ELSE {EMPTY_ARR} END"
            for ns_c in o.non_default
        ] or [EMPTY_ARR]
        return f"sort_array(array_distinct(flatten(array({', '.join(parts)}))))"

    alias_collected = mcase(_aliases)

    # own-namespace override (the reference maps a mention's own
    # namespace to [raw_id] itself, replacing any same-ns xrefs):
    #  - default candidates: [raw_id] when the mention IS in the
    #    default namespace, else the collected default-ns set;
    #  - aliases: collected non-default/non-own candidates, plus
    #    raw_id when the mention's own namespace is non-default.
    own_is_default = f"(ns = {ldefault})"
    default_arr = (
        f"CASE WHEN {own_is_default} THEN array(raw_id) ELSE {cand_default_raw} END"
    )
    alias_arr = (
        f"CASE WHEN {own_is_default} THEN {alias_collected} "
        f"ELSE array_union({alias_collected}, array(raw_id)) END"
    )

    # routing predicates: a candidate count in any non-own namespace
    # of the row's type > 1
    multi_default = (
        f"(NOT {own_is_default}) AND {mcase(lambda o: sz(o.default))} > 1"
    )

    def _greatest(o: OntologyType) -> str:
        parts = [f"CASE WHEN ns = {q(ns)} THEN 0 ELSE {sz(ns)} END" for ns in o.choices]
        return parts[0] if len(parts) == 1 else f"greatest({', '.join(parts)})"

    any_multi = f"{mcase(_greatest)} > 1"
    # reason: format failures first (they never routed), then the
    # routing ladder — identical precedence to the round-5 two-branch
    # form, where invalid rows bypassed routing entirely
    route_reason = (
        f"CASE WHEN {n_hits} = 0 THEN {q(R_NO_RESULTS)} "
        f"WHEN {multi_default} THEN {q(R_MULTI)} "
        f"WHEN {unique} AND ({any_multi}) THEN {q(R_UNIQUE_MULTI)} END"
    )
    return joined.selectExpr(
        "idx",
        "raw_id",
        "ns",
        "mlabel AS label",
        f"coalesce(format_reason, {route_reason}) AS reason",
        f"{default_arr} AS cand_default",
        f"{alias_arr} AS aliases",
    )


def _format(
    validated: DataFrame,
    wide: DataFrame,
    terms: DataFrame,
    types: dict[str, OntologyType],
    strategy: Strategy,
) -> tuple[DataFrame, DataFrame]:
    """``_route`` rows + raw records + metadata → (formatted,
    failed_formatted), SURVEY.md §2.8 rules 5-7 (the reference's
    default_format, ontology_formatter.py:675-771)."""
    mixture = "true" if strategy == Strategy.MIXTURE else "false"

    # ---- records: first input row per (label, id) --------------------
    # min_by per column, not a row_number window: the agg combines
    # map-side (no full shuffle of losers) — the first-row-wins lookup
    # over 10^12 mentions is itself a big agg. One min_by PER COLUMN
    # rather than one over a 9-column struct: idx is unique, so every
    # column independently picks the same winning row, and separate
    # aggregate expressions are prunable — a consumer that reads few
    # output columns (the lazy triples pipeline after its projection)
    # aggregates only the strings behind them.
    records = validated.groupBy(F.expr("label AS r_key_label"), "id").agg(
        *[F.expr(f"min_by(coalesce({c}, ''), idx) AS r_{c}") for c in _RECORD_COLS]
    )

    # ---- ONE records join + ONE metadata join for every row ----------
    # (<=>: a NULL-label row finds its own record)
    rows = wide.join(
        records, F.expr("raw_id = r_id AND label <=> r_key_label"), "left"
    )
    is_conv = "reason IS NULL"
    rows = rows.withColumn(
        "canonical",
        F.expr("CASE WHEN size(cand_default) = 1 THEN element_at(cand_default, 1) END"),
    )
    # metadata key = canonical when resolved, else the RAW id: the
    # reference fetches metadata per QUERY and applies it even to rows
    # with no default mapping (format_by_metadata runs before the
    # id-None branch, ontology_formatter.py:697-700 + :712-717).
    # Failed rows get a NULL key — no match, md_* stay NULL, and the
    # reason-gated output expressions never read them.
    rows = rows.join(
        F.broadcast(metadata_table(terms)),
        F.expr(
            f"CASE WHEN {is_conv} THEN coalesce(canonical, raw_id) END = md_curie"
        ),
        "left",
    )

    # per-label metadata semantics: one expression per output column,
    # switching by metadata_mode (flat label test — no nesting)
    gene_labels = [t for t, o in types.items() if o.metadata_mode == "gene"]
    dflt = metadata_exprs("default", "aliases")
    gene = metadata_exprs("gene", "aliases")

    def o(col: str) -> str:
        if not gene_labels:
            return dflt[col]
        is_gene = _isin("label", gene_labels)
        return f"CASE WHEN {is_gene} THEN {gene[col]} ELSE {dflt[col]} END"

    resolved = f"{is_conv} AND canonical IS NOT NULL"

    # failures are rescued into the formatted output iff their prefix
    # is the type's default namespace OR the strategy is MIXTURE
    # (ontology_formatter.py:754-763); NULL-safe, so a NULL id or a
    # label outside ``types`` lands in exactly one output
    default_of_label = label_case_sql(types, "label", lambda o: q(o.default))
    rescue = (
        f"(coalesce(substring_index(raw_id, ':', 1) = {default_of_label}, false) "
        f"OR {mixture})"
    )

    def conv_or_raw(c: str) -> str:
        return f"CASE WHEN {is_conv} THEN {o(c)} ELSE r_{c} END AS {c}"

    # converted rows emit the metadata-formatted columns; rescued
    # failures emit the raw-record passthrough (raw_id always ""). Every
    # row keeps the mention's label: a converted row's record has that
    # label anyway (records are keyed by (label, id)), and a rescued row
    # whose record join misses (a NULL id) must still carry it, as the
    # oracle's does.
    formatted = rows.where(F.expr(f"{is_conv} OR {rescue}")).selectExpr(
        f"CASE WHEN {resolved} THEN canonical ELSE raw_id END AS id",
        conv_or_raw("name"),
        "label",
        "r_resource AS resource",
        conv_or_raw("description"),
        conv_or_raw("synonyms"),
        conv_or_raw("pmids"),
        conv_or_raw("taxid"),
        conv_or_raw("xrefs"),
        f"CASE WHEN {resolved} THEN raw_id ELSE '' END AS raw_id",
    )
    failed = F.expr(f"(NOT ({is_conv})) AND (NOT {rescue})")
    failed_formatted = rows.where(failed).selectExpr(
        "raw_id AS id",
        "r_name AS name",
        "label",
        "r_resource AS resource",
        "r_description AS description",
        "r_synonyms AS synonyms",
        "r_pmids AS pmids",
        "r_taxid AS taxid",
        "r_xrefs AS xrefs",
        "reason",
    )
    return formatted, failed_formatted


def link_mentions_multi(
    mentions: DataFrame,
    xref_edges: DataFrame,
    terms: DataFrame,
    types: dict[str, OntologyType],
    strategy: Strategy = Strategy.MIXTURE,
) -> tuple[DataFrame, DataFrame]:
    """Mixed-label mention table → (formatted, failed_formatted) in one
    dataflow pass; each row is linked under its label's type, and every
    mention lands in exactly one of the two outputs.

    Every label-conditional expression is composed as SQL text and
    handed to the JVM in one ``F.expr``/``selectExpr`` per projection:
    the Catalyst tree is the one the Column API would build, but the
    driver pays a few py4j round trips per projection instead of
    ~14-35 per Column node (~20k for five types)."""
    validated = _validate(mentions, types)
    wide = _route(validated, xref_edges, types, strategy)
    return _format(validated, wide, terms, types, strategy)
