"""Stage 3+4 — per-type candidate generation + tie-break routing.

One ontology type's view of the linking stage ``link_multi._route``
over a one-row type table: the xref dictionary aggregated into the
routing outcome per source curie, one broadcast join against the
mentions — the rules of the reference's _format_response
(disease/__init__.py:102-178 — SURVEY.md §2.8 rules 1-4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ontology_matcher_spark.ontology_types import OntologyType, Strategy
from ontology_matcher_spark.operators.link_multi import _route, single_type


def generate_candidates(
    valid_mentions: DataFrame,
    xref_edges: DataFrame,
    otype: OntologyType,
    strategy: Strategy = Strategy.MIXTURE,
) -> DataFrame:
    """``validate_mentions`` rows × xref dictionary → idx, raw_id, ns,
    label, reason (NULL = converted), cand_default, aliases."""
    pinned, tt = single_type(valid_mentions, otype)
    return _route(pinned, xref_edges, tt, strategy)
