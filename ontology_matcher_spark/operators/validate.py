"""Stage 2 — per-type CURIE validation (SURVEY.md §2.2 P1-P3).

One ontology type's view of the linking stage ``link_multi._validate``
over a one-row type table: every row is checked against ``otype``'s
namespaces and tagged with a failure reason, never raised — the reason
strings stay stable for the failed side-channel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ontology_matcher_spark.ontology_types import OntologyType
from ontology_matcher_spark.operators.link_multi import _validate, single_type


def validate_mentions(mentions: DataFrame, otype: OntologyType) -> DataFrame:
    """Add ``idx``, ``ns``, ``local_id`` and ``format_reason``
    (NULL = valid CURIE for this ontology type); ``label`` becomes
    ``otype.type``."""
    return _validate(*single_type(mentions, otype))
