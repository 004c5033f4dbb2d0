"""Stage 5 — metadata enrichment + output formatting.

Column-expression reproduction of the reference's default_format
(/root/reference/ontology_matcher/ontology_formatter.py:675-771 —
SURVEY.md §2.8 rules 5-7):

- raw-record join: every converted/failed id joins back to the FIRST
  input row bearing that raw id (get_raw_record first-row-wins,
  of.py:604-605 → row_number over idx);
- metadata precedence: dictionary metadata beats the input row for
  name/description (`or`-fallback), synonyms union
  (default_format_by_metadata, of.py:656-673);
- routing: default-id missing → keep raw id; unique → canonical id,
  resource stays the RAW record's resource (of.py:734), label forced
  to the ontology type (of.py:735); failed ids rescued iff
  prefix == default OR strategy MIXTURE (of.py:754-763);
- xrefs = alias ids (all non-default namespace candidates, own
  namespace included — get_alias_ids, of.py:625-641) ∪ input xrefs,
  pipe-joined sorted-dedup (join_lst, of.py:544-553).

Scale notes: the raw-record join shuffles on raw_id (mention-key
cardinality, uniform); the metadata join broadcasts the term table.
Everything is codegen'd — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ontology_matcher_spark.functions.arrays import (
    EMPTY_ARR,
    concat_unique_sql,
    join_lst_sql,
    split_pipe_sql,
)
from ontology_matcher_spark.ontology_types import OntologyType, Strategy
from ontology_matcher_spark.operators.candidates import cand_col
from ontology_matcher_spark.schemas import FAILED_COLUMNS, FORMATTED_COLUMNS

_RECORD_COLS = [
    "id", "name", "label", "resource", "description",
    "synonyms", "pmids", "taxid", "xrefs",
]


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
      back md→raw; synonyms = md ∪ raw; taxid = raw; xrefs =
      alias ids ∪ md xrefs ∪ raw xrefs.
    - "gene" (gene/__init__.py:332-354): name = SYMBOL, else md name,
      else raw; description = md summary with NO raw fallback (an
      empty summary yields ""); taxid from metadata; synonyms =
      (alias+other_names =) md synonyms ∪ {md name} ∪ raw.
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


def first_records(mentions_idx: DataFrame) -> DataFrame:
    """raw_id → first input row (all columns r_-prefixed)."""
    w = Window.partitionBy("id").orderBy("idx")
    return (
        mentions_idx.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            *[
                F.coalesce(F.col(c), F.lit("")).alias(f"r_{c}")
                for c in _RECORD_COLS
            ]
        )
    )


def format_output(
    candidates_wide: DataFrame,
    mentions_idx: DataFrame,
    terms: DataFrame,
    otype: OntologyType,
    strategy: Strategy = Strategy.MIXTURE,
) -> tuple[DataFrame, DataFrame]:
    """→ (formatted, failed_formatted), both all-string DataFrames with
    FORMATTED_COLUMNS / FAILED_COLUMNS."""
    records = first_records(mentions_idx)
    default_c = cand_col(otype, otype.default)
    non_default_cols = [
        cand_col(otype, ns) for ns in otype.choices if ns != otype.default
    ]

    converted = candidates_wide.where(F.col("reason").isNull())
    conv = converted.join(
        records, converted.raw_id == records.r_id, "left"
    )

    canonical = F.when(
        F.size(default_c) == 1, F.element_at(F.col(default_c), 1)
    )
    conv = conv.withColumn("canonical", canonical)

    # metadata key = canonical when resolved, else the RAW id (the
    # reference applies query-keyed metadata even to unresolved rows —
    # ontology_formatter.py:697-700 before the id-None branch)
    conv = conv.join(
        F.broadcast(metadata_table(terms)),
        F.coalesce(conv.canonical, conv.raw_id) == F.col("md_curie"),
        "left",
    )

    # candidate arrays never hold NULLs (collect_set) — array_remove
    # keeps this codegen'd, no lambda HOF
    alias_arr = (
        f"array_distinct(array_remove(concat({', '.join(non_default_cols)}), ''))"
    )
    o = metadata_exprs(otype.metadata_mode, alias_arr)
    conv = conv.withColumns({f"o_{c}": F.expr(e) for c, e in o.items()})

    resolved = F.col("canonical").isNotNull()
    formatted_conv = conv.select(
        F.when(resolved, F.col("canonical")).otherwise(F.col("raw_id")).alias("id"),
        F.col("o_name").alias("name"),
        F.when(resolved, F.lit(otype.type)).otherwise(F.col("r_label")).alias("label"),
        F.col("r_resource").alias("resource"),
        F.col("o_description").alias("description"),
        F.col("o_synonyms").alias("synonyms"),
        F.col("o_pmids").alias("pmids"),
        F.col("o_taxid").alias("taxid"),
        F.col("o_xrefs").alias("xrefs"),
        F.when(resolved, F.col("raw_id")).otherwise(F.lit("")).alias("raw_id"),
    )

    # ---- failed side: match-phase failures + invalid CURIEs ----------
    failures = candidates_wide.where(F.col("reason").isNotNull()).select(
        F.col("raw_id").alias("fid"), "reason"
    )
    invalid = mentions_idx.where(F.col("format_reason").isNotNull()).select(
        F.col("id").alias("fid"), F.col("format_reason").alias("reason")
    )
    failed_all = failures.unionByName(invalid)
    f = failed_all.join(records, failed_all.fid == records.r_id, "left")
    f = f.select(
        F.col("fid").alias("id"),
        F.col("r_name").alias("name"),
        F.lit(otype.type).alias("label"),
        F.col("r_resource").alias("resource"),
        F.col("r_description").alias("description"),
        F.col("r_synonyms").alias("synonyms"),
        F.col("r_pmids").alias("pmids"),
        F.col("r_taxid").alias("taxid"),
        F.col("r_xrefs").alias("xrefs"),
        "reason",
        F.substring_index("fid", ":", 1).alias("__prefix"),
    )
    rescue = (F.col("__prefix") == otype.default) | F.lit(
        strategy == Strategy.MIXTURE
    )
    rescued = f.where(rescue).withColumn("raw_id", F.lit("")).select(
        *FORMATTED_COLUMNS
    )
    failed_formatted = f.where(~rescue).select(*FAILED_COLUMNS)
    formatted = formatted_conv.select(*FORMATTED_COLUMNS).unionByName(rescued)
    return formatted, failed_formatted
