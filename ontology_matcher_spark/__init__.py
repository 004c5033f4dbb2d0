"""ontology_matcher_spark — PySpark-native knowledge-graph construction engine.

A from-scratch re-expression of open-prophetdb/ontology-matcher
(reference snapshot at /root/reference, 2024-08-07) as distributed
Spark dataflow:

- dictionary-backed mention detection over interleaved text+media
  documents (vectorized Arrow UDFs; media spans pass through),
- broadcast-join candidate generation against ontology term / xref
  dictionary tables (replacing the reference's OxO / MyGene / MyChem /
  MyDisease / OLS4 HTTP calls — see SURVEY.md §2.1 S4-S8),
- the reference's tie-break routing (exact reproduction of
  /root/reference/ontology_matcher/disease/__init__.py:102-178 and
  ontology_formatter.py:675-771 semantics — SURVEY.md §2.8),
- iterative connected-components canonicalization over xref edges
  (large-star/small-star on DataFrames),
- (subj, pred, obj) triple materialization into partitioned tables
  with lineage counters and checkpoint/resume.

Everything is DataFrame/Catalyst; Python executes only inside
Arrow-batched stages: `mapInArrow` mention detection and the
`mapInPandas` media features.
"""

__version__ = "0.1.0"

from ontology_matcher_spark.ontology_types import ONTOLOGY_TYPES, OntologyType  # noqa: F401
