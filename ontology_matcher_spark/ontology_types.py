"""Entity-type id-space configuration.

Mirrors the reference's OntologyType instances (SURVEY.md §1.1):
- Disease:    /root/reference/ontology_matcher/disease/__init__.py:24-38
- Gene:       /root/reference/ontology_matcher/gene/__init__.py:41-43
- Compound:   /root/reference/ontology_matcher/compound/__init__.py:19-23
- Metabolite: /root/reference/ontology_matcher/metabolite/__init__.py:19-23
- Symptom:    /root/reference/ontology_matcher/symptom/__init__.py:30-32

Plain Python config; ``type_table`` turns a ``types`` map into the
one-row-per-label table that linking and CC join against.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import DataFrame, SparkSession

from ontology_matcher_spark.functions.arrays import q


class Strategy(str, Enum):
    """Match strategy (ref ontology_formatter.py:33-36; default MIXTURE
    per ontology_formatter.py:231)."""

    MIXTURE = "Mixture"
    UNIQUE = "Unique"


@dataclass(frozen=True)
class OntologyType:
    type: str
    default: str  # canonical id namespace
    choices: tuple[str, ...] = field(default_factory=tuple)
    #: metadata-enrichment semantics at the format stage:
    #: - "default": name/description fall back md→raw, synonyms =
    #:   md ∪ raw, taxid = raw (default_format_by_metadata,
    #:   /root/reference/ontology_matcher/ontology_formatter.py:656-673)
    #: - "gene": SYMBOL→name (falling back md name→raw name),
    #:   summary→description (NO raw fallback), taxid from metadata,
    #:   synonyms = alias+other_names ∪ {md name} ∪ raw
    #:   (/root/reference/ontology_matcher/gene/__init__.py:332-354)
    metadata_mode: str = "default"

    @property
    def non_default(self) -> tuple[str, ...]:
        return tuple(c for c in self.choices if c != self.default)


DISEASE = OntologyType(
    "Disease",
    "MONDO",
    ("MONDO", "DOID", "MESH", "OMIM", "ICD-9", "HP", "ICD10CM", "Orphanet", "UMLS"),
)
GENE = OntologyType(
    "Gene",
    "ENTREZ",
    ("ENTREZ", "ENSEMBL", "HGNC", "MGI", "SYMBOL", "UNIPROT"),
    metadata_mode="gene",
)
COMPOUND = OntologyType(
    "Compound",
    "DrugBank",
    # exact reference set incl. HMDB
    # (/root/reference/ontology_matcher/compound/__init__.py:19-23)
    ("DrugBank", "PUBCHEM", "CHEBI", "MESH", "UMLS", "CHEMBL", "HMDB"),
)
METABOLITE = OntologyType(
    "Metabolite",
    "HMDB",
    # exact reference set incl. CHEMBL
    # (/root/reference/ontology_matcher/metabolite/__init__.py:19-23)
    ("HMDB", "DrugBank", "PUBCHEM", "CHEBI", "MESH", "UMLS", "CHEMBL"),
)
SYMPTOM = OntologyType("Symptom", "UMLS", ("UMLS", "SYMP", "MESH", "HP"))

ONTOLOGY_TYPES: dict[str, OntologyType] = {
    t.type: t for t in (DISEASE, GENE, COMPOUND, METABOLITE, SYMPTOM)
}

#: every namespace any type accepts (used for CURIE regex + fixtures)
ALL_NAMESPACES: tuple[str, ...] = tuple(
    sorted({ns for t in ONTOLOGY_TYPES.values() for ns in t.choices})
)


def type_table(spark: SparkSession, types: dict[str, OntologyType]) -> DataFrame:
    """``types`` as data: one row per label with the columns (label,
    default, choices array<string>, metadata_mode). An inline VALUES
    table, so the plan holds it as a LocalRelation: joining it is a
    broadcast probe, and no expression grows with the number of types
    or namespaces."""
    rows = ", ".join(
        f"({q(label)}, {q(o.default)}, array({', '.join(map(q, o.choices))}), "
        f"{q(o.metadata_mode)})"
        for label, o in types.items()
    )
    return spark.sql(
        f"SELECT * FROM VALUES {rows} AS t(label, default, choices, metadata_mode)"
    )


# Reference id-format regex (ontology_formatter.py:292), local part
# exactly as the reference: [a-z0-9A-Z.\*\+]+. We do NOT abort the run
# on violation (the reference raises at :302-303); we tag + route to
# the failed side-channel — SURVEY.md §2.2 P1.
CURIE_LOCAL_PATTERN = r"[a-z0-9A-Z\.\*\+]+"
