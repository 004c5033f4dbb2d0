"""Stage 5 — metadata enrichment expressions.

Column-expression reproduction of the reference's metadata precedence
(default_format_by_metadata, ontology_formatter.py:656-673 — SURVEY.md
§2.8 rules 5-7), shared by every entity type's branch of
``link_multi._format``:

- dictionary metadata beats the input row for name/description
  (`or`-fallback), synonyms union;
- xrefs = alias ids (all non-default namespace candidates, own
  namespace included — get_alias_ids, of.py:625-641) ∪ input xrefs,
  pipe-joined sorted-dedup (join_lst, of.py:544-553).

The metadata join broadcasts the term table. Everything is codegen'd
SQL text — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ontology_matcher_spark.functions.arrays import (
    EMPTY_ARR,
    concat_unique_sql,
    join_lst_sql,
    split_pipe_sql,
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
