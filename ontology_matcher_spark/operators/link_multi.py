"""Linking: mention CURIE → routed canonical id → formatted row.

The one linking implementation, for any set of entity types. A mixed-
label mention table is linked in one dataflow, so the mention table —
the big input at 10^12 documents — is scanned ONCE. The id-space
config is data, not code: ``type_table`` makes ``types`` one tiny
LocalRelation (label, default, choices, metadata_mode), and every
per-label quantity is a join against it plus plain aggregates, so no
expression grows with the number of types or namespaces.

It runs in three stages:
- ``_validate``: the label's row gives the accepted prefixes;
- ``_route``: the xref dictionary is aggregated ONCE per (source
  curie, label) into the routing outcome — ontology-bounded work — and
  the mention scan makes one 1:1 broadcast join against it (the
  mention table is never shuffled for candidate generation);
- ``_format``: raw records, metadata and output routing; the label's
  row gives the rescue namespace and the metadata mode.

The per-type entry points (``validate_mentions``,
``generate_candidates``, ``link_mentions``) run the same stages with
every mention's label pinned to one type and a one-row type table
(``single_type``). The parity tests hold every path against the
pure-Python oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontology_matcher_spark.functions.arrays import (
    EMPTY_ARR,
    concat_unique_sql,
    join_lst_sql,
    q,
    split_pipe_sql,
)
from ontology_matcher_spark.ontology_types import (
    CURIE_LOCAL_PATTERN,
    OntologyType,
    Strategy,
    type_table,
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


def single_type(
    mentions: DataFrame, otype: OntologyType
) -> tuple[DataFrame, DataFrame]:
    """(mentions with every label pinned to ``otype.type``, the
    one-row type table): the per-type entry points' arguments for the
    stages below. The reference's per-type command ignores the label
    column; pinning it honors the declared type for every row."""
    return (
        mentions.withColumn("label", F.lit(otype.type)),
        type_table(mentions.sparkSession, {otype.type: otype}),
    )


def _with_type(df: DataFrame, tt: DataFrame, *cols: str) -> DataFrame:
    """``df`` left-joined with its label's row of the type table,
    adding ``t_<col>`` for each of ``cols``; NULL for a label that is
    NULL or not in the table."""
    row = tt.selectExpr("label AS t_label", *[f"{c} AS t_{c}" for c in cols])
    return df.join(F.broadcast(row), F.expr("label = t_label"), "left").drop(
        "t_label"
    )


def _indexed(mentions: DataFrame) -> DataFrame:
    """``mentions`` with an ``idx`` column (added when absent). ``idx``
    is a column, not an iteration order: ``monotonically_increasing_id``
    preserves file order, which is all first-row-wins needs."""
    if "idx" in mentions.columns:
        return mentions
    return mentions.withColumn("idx", F.monotonically_increasing_id())


def _validate(mentions: DataFrame, tt: DataFrame) -> DataFrame:
    """Add ``idx`` (when absent), ``ns``, ``local_id`` and
    ``format_reason`` (NULL = a valid CURIE for the row's type; a row
    whose label is NULL or not in the type table has no accepted
    prefix).

    The reference aborts the whole run on any malformed id
    (ontology_formatter.py:279-303); a distributed pipeline must not —
    each row is tagged with a failure reason and routed."""
    df = _indexed(mentions)
    has_colon = "contains(id, ':')"
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
    return (
        _with_type(df, tt, "choices")
        .withColumn(
            "format_reason",
            F.expr(
                f"CASE WHEN id IS NULL OR (NOT {has_colon}) THEN {q(R_BAD_FORMAT)} "
                f"WHEN NOT coalesce(array_contains(t_choices, ns), false) "
                f"THEN {q(R_BAD_PREFIX)} "
                f"WHEN NOT (local_id RLIKE {local_re}) THEN {q(R_BAD_FORMAT)} END"
            ),
        )
        .drop("t_choices")
    )


def _route(
    validated: DataFrame,
    xref_edges: DataFrame,
    tt: DataFrame,
    strategy: Strategy,
) -> DataFrame:
    """``_validate`` output × xref dictionary → one row per mention:
    idx, raw_id, ns, label, reason (NULL = converted; a format failure
    takes precedence over routing), cand_default (sorted
    default-namespace candidates; [raw_id] in the own namespace) and
    aliases (sorted non-default candidates, own id included). The two
    arrays are NULL on a row with no candidates, which never converts."""
    unique = "true" if strategy == Strategy.UNIQUE else "false"

    # ---- dictionary side: routing per (src_curie, label) -------------
    # Every routing quantity depends on (raw_id, label) alone — the
    # own namespace is raw_id's prefix — so it is aggregated once per
    # source curie and label, over the edges into that label's
    # namespaces (a namespace several types accept fans an edge out to
    # each of them). collect_set dedups, so size(cands) is the
    # reference's set size with no distinct of the edges first; it
    # equals the number of distinct (src, ns, dst) edges because
    # XREF_EDGES.dst_curie is declared non-null.
    type_ns = tt.selectExpr(
        "label AS x_label", "default AS x_default", "explode(choices) AS dst_ns"
    )
    per_ns = (
        xref_edges.join(F.broadcast(type_ns), "dst_ns")
        .groupBy("src_curie", "x_label", "x_default", "dst_ns")
        .agg(F.expr("sort_array(collect_set(dst_curie)) AS cands"))
    )
    own = "substring_index(src_curie, ':', 1)"
    routes = per_ns.groupBy("src_curie", "x_label", "x_default").agg(
        # distance-1 neighbours in the label's namespaces only (per-type
        # "No results found" semantics), own namespace included
        F.expr("sum(size(cands)) AS n_hits"),
        F.expr("flatten(collect_list(CASE WHEN dst_ns = x_default THEN cands END)) "
               "AS dflt"),
        # non-default, non-own candidates (each set is sorted; the
        # flatten is re-sorted after dedup)
        F.expr(
            "sort_array(array_distinct(flatten(collect_list("
            f"CASE WHEN dst_ns != x_default AND dst_ns != {own} THEN cands END)))) "
            "AS other"
        ),
        # the largest candidate count in a non-own namespace
        F.expr(f"max(CASE WHEN dst_ns != {own} THEN size(cands) END) AS max_other"),
    )
    # own-namespace override (the reference maps a mention's own
    # namespace to [raw_id] itself, replacing any same-ns xrefs):
    #  - default candidates: [raw_id] when the mention IS in the
    #    default namespace, else the collected default-ns set;
    #  - aliases: the collected non-default/non-own candidates, plus
    #    raw_id when the mention's own namespace is non-default.
    # Routing: no hits, then a multi-match in the default namespace
    # (when that is not the own one), then under UNIQUE a multi-match
    # in any non-own namespace.
    own_is_default = f"({own} = x_default)"
    routes = routes.selectExpr(
        "src_curie",
        "x_label",
        f"CASE WHEN n_hits = 0 THEN {q(R_NO_RESULTS)} "
        f"WHEN NOT {own_is_default} AND size(dflt) > 1 THEN {q(R_MULTI)} "
        f"WHEN {unique} AND max_other > 1 THEN {q(R_UNIQUE_MULTI)} END AS x_reason",
        f"CASE WHEN {own_is_default} THEN array(src_curie) ELSE dflt END "
        "AS x_cand_default",
        f"CASE WHEN {own_is_default} THEN other "
        "ELSE array_union(other, array(src_curie)) END AS x_aliases",
    )

    # ---- mention side: ONE 1:1 broadcast join -------------------------
    # Valid and invalid rows take the same probe; format_reason takes
    # precedence in the reason coalesce, and a row with no dictionary
    # row has no results.
    m = validated.selectExpr(
        "idx", "id AS raw_id", "ns", "label", "format_reason"
    )
    joined = m.join(
        F.broadcast(routes), F.expr("raw_id = src_curie AND label = x_label"), "left"
    )
    return joined.selectExpr(
        "idx",
        "raw_id",
        "ns",
        "label",
        "coalesce(format_reason, CASE WHEN src_curie IS NULL "
        f"THEN {q(R_NO_RESULTS)} ELSE x_reason END) AS reason",
        "x_cand_default AS cand_default",
        "x_aliases AS aliases",
    )


def metadata_table(terms: DataFrame) -> DataFrame:
    """Term dictionary → md_-prefixed metadata columns for the
    canonical-id broadcast join. Tolerates dictionaries without the
    gene/xref metadata columns (pre-round-2 tables)."""
    cols = set(terms.columns)
    opt = lambda c, missing: c if c in cols else missing  # noqa: E731
    return terms.selectExpr(
        "curie AS md_curie",
        "name AS md_name",
        "description AS md_description",
        "synonyms AS md_synonyms",
        opt("symbol", "''") + " AS md_symbol",
        opt("taxid", "''") + " AS md_taxid",
        opt("xrefs", EMPTY_ARR) + " AS md_xrefs",
        opt("pmids", EMPTY_ARR) + " AS md_pmids",
    )


def metadata_exprs(mode: str, alias_arr: str) -> dict[str, str]:
    """Output-column SQL expressions for one metadata mode over a frame
    carrying r_* (raw record) and md_* (dictionary) columns;
    ``alias_arr`` is the SQL text of the alias-id array.

    - "default" (ontology_formatter.py:656-673): name/description fall
      back md→raw; synonyms = md ∪ raw; taxid = raw.
    - "gene" (gene/__init__.py:332-354): name = SYMBOL, else md name,
      else raw; description = md summary with NO raw fallback (an
      empty summary yields ""); taxid from metadata; synonyms =
      (alias+other_names =) md synonyms ∪ {md name} ∪ raw.
    Both: xrefs = alias ids (all non-default namespace candidates, own
    namespace included — get_alias_ids, of.py:625-641) ∪ md xrefs ∪
    raw xrefs, pipe-joined sorted-dedup (join_lst, of.py:544-553).
    Metadata applies only when the canonical id matched a term row
    (md_found) — the reference skips format_by_metadata when the
    metadata dict is empty (ontology_formatter.py:699-700)."""
    nn = lambda c: f"CASE WHEN {c} != '' THEN {c} END"  # noqa: E731  ''→NULL
    md_found = "md_curie IS NOT NULL"
    md_xr = f"coalesce(md_xrefs, {EMPTY_ARR})"
    md_syn = f"coalesce(md_synonyms, {EMPTY_ARR})"
    md_pm = f"coalesce(md_pmids, {EMPTY_ARR})"
    xrefs = join_lst_sql(
        concat_unique_sql(
            concat_unique_sql(alias_arr, md_xr), split_pipe_sql("r_xrefs")
        )
    )
    pmids = join_lst_sql(concat_unique_sql(md_pm, split_pipe_sql("r_pmids")))
    if mode == "gene":
        md_name_arr = (
            f"CASE WHEN {md_found} AND md_name != '' THEN array(md_name) "
            f"ELSE {EMPTY_ARR} END"
        )
        return {
            "name": f"coalesce({nn('md_symbol')}, {nn('md_name')}, r_name)",
            "description": f"CASE WHEN {md_found} THEN "
            f"coalesce({nn('md_description')}, '') ELSE r_description END",
            "taxid": f"CASE WHEN {md_found} THEN "
            f"coalesce({nn('md_taxid')}, '') ELSE r_taxid END",
            "synonyms": join_lst_sql(
                concat_unique_sql(
                    concat_unique_sql(md_syn, md_name_arr),
                    split_pipe_sql("r_synonyms"),
                )
            ),
            "xrefs": xrefs,
            "pmids": pmids,
        }
    return {
        "name": f"coalesce({nn('md_name')}, r_name)",
        "description": f"coalesce({nn('md_description')}, r_description)",
        "taxid": "r_taxid",
        "synonyms": join_lst_sql(
            concat_unique_sql(md_syn, split_pipe_sql("r_synonyms"))
        ),
        "xrefs": xrefs,
        "pmids": pmids,
    }


def _format(
    mentions: DataFrame,
    wide: DataFrame,
    terms: DataFrame,
    tt: DataFrame,
    strategy: Strategy,
) -> tuple[DataFrame, DataFrame]:
    """``_route`` rows + raw records of the ``_indexed`` mentions +
    metadata → (formatted, failed_formatted), SURVEY.md §2.8 rules 5-7
    (the reference's default_format, ontology_formatter.py:675-771)."""
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
    records = mentions.groupBy(F.expr("label AS r_key_label"), "id").agg(
        *[F.expr(f"min_by(coalesce({c}, ''), idx) AS r_{c}") for c in _RECORD_COLS]
    )

    # ---- ONE records join + ONE metadata join for every row ----------
    # (<=>: a NULL-label row finds its own record)
    rows = _with_type(wide, tt, "default", "metadata_mode").join(
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
    # switching on the label's metadata_mode
    dflt = metadata_exprs("default", "aliases")
    gene = metadata_exprs("gene", "aliases")

    def conv_or_raw(c: str) -> str:
        return (
            f"CASE WHEN {is_conv} THEN (CASE WHEN t_metadata_mode = 'gene' "
            f"THEN {gene[c]} ELSE {dflt[c]} END) ELSE r_{c} END AS {c}"
        )

    resolved = f"{is_conv} AND canonical IS NOT NULL"

    # failures are rescued into the formatted output iff their prefix
    # is the type's default namespace OR the strategy is MIXTURE
    # (ontology_formatter.py:754-763); NULL-safe, so a NULL id or a
    # label outside the type table lands in exactly one output
    rescue = (
        "(coalesce(substring_index(raw_id, ':', 1) = t_default, false) "
        f"OR {mixture})"
    )

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


def _link(
    mentions: DataFrame,
    tt: DataFrame,
    xref_edges: DataFrame,
    terms: DataFrame,
    strategy: Strategy,
) -> tuple[DataFrame, DataFrame]:
    """The three stages over the mentions and a type table ``tt``."""
    mentions = _indexed(mentions)
    wide = _route(_validate(mentions, tt), xref_edges, tt, strategy)
    return _format(mentions, wide, terms, tt, strategy)


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

    Expressions are composed as SQL text and handed to the JVM in one
    ``F.expr``/``selectExpr`` per projection: the driver pays a few
    py4j round trips per projection instead of ~14-35 per Column
    node."""
    return _link(
        mentions, type_table(mentions.sparkSession, types), xref_edges, terms, strategy
    )
