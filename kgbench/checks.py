"""Output checks, run on every timed run outside its timed region.

The engine's output files are read with pyarrow and DuckDB, never
with Spark, so a defect in the engine cannot also hide in the check.
"""

from __future__ import annotations

import os

import pyarrow.dataset as ds

from kgbench.inputs import TRIPLE_COLUMNS, digest_of


def _dataset(path: str, hive: bool = False):
    return ds.dataset(
        path,
        format="parquet",
        partitioning="hive" if hive else None,
        exclude_invalid_files=True,
    )


def read_triples(out_dir: str):
    """The triples stage of a ``run_pipeline`` output directory
    (partitioned by ``pred``) as a pyarrow table."""
    t = _dataset(os.path.join(out_dir, "stages", "triples"), hive=True).to_table()
    return t.select(list(TRIPLE_COLUMNS))


def check_link(out_dir: str, expected: dict) -> tuple[bool, str]:
    """Triple count and order-independent digest against the oracle."""
    n, digest = digest_of(read_triples(out_dir))
    if n != expected["triples"]:
        return False, f"triples {n} != expected {expected['triples']}"
    if digest != expected["digest"]:
        return False, f"triples digest {digest} != expected {expected['digest']}"
    return True, ""


def link_counts(out_dir: str) -> dict:
    """Row counts of the formatted and canonical stages and the CC graph
    they imply — read after the run, so tracing adds no Spark job."""
    import duckdb

    fmt = _dataset(os.path.join(out_dir, "stages", "formatted"), hive=True)
    fmt = fmt.to_table(columns=["id", "xrefs"])
    canon = _dataset(os.path.join(out_dir, "stages", "canonical")).to_table()
    con = duckdb.connect()
    try:
        con.register("fmt", fmt)
        con.register("canon", canon)
        formatted = con.execute("SELECT count(*) FROM fmt").fetchone()[0]
        edges = con.execute(
            "SELECT count(*) FROM (SELECT DISTINCT id, x FROM ("
            "SELECT id, unnest(string_split(coalesce(xrefs, ''), '|')) AS x "
            "FROM fmt) WHERE x <> '' AND x <> id)"
        ).fetchone()[0]
        nodes, comps = con.execute(
            "SELECT count(*), count(DISTINCT canonical) FROM canon"
        ).fetchone()
    finally:
        con.close()
    return {
        "formatted": int(formatted),
        "cc_edges": int(edges),
        "cc_nodes": int(nodes),
        "cc_components": int(comps),
    }


def check_detect(
    out_dir: str, artifact_dir: str, candidates: int
) -> tuple[bool, str, int]:
    """Invariants of a detection output → (ok, reason, winners):
    winners ≤ candidates, one winner per (doc_id, span_idx, surface),
    and every winner id present in the artifact's curie table.

    There is no oracle for the ranked tie-break ladder itself yet, so a
    wrong-but-consistent winner would pass these checks."""
    import duckdb

    out = _dataset(out_dir).to_table(columns=["doc_id", "span_idx", "surface", "id"])
    curies = _dataset(os.path.join(artifact_dir, "curies")).to_table(columns=["curie"])
    con = duckdb.connect()
    try:
        con.register("out", out)
        con.register("curies", curies)
        winners, keys = con.execute(
            "SELECT count(*), count(DISTINCT (doc_id, span_idx, surface)) FROM out"
        ).fetchone()
        unknown = con.execute(
            "SELECT count(*) FROM out WHERE id IS NULL "
            "OR id NOT IN (SELECT curie FROM curies)"
        ).fetchone()[0]
    finally:
        con.close()
    if winners == 0:
        return False, "no winners", 0
    if winners > candidates:
        return False, f"winners {winners} > candidates {candidates}", winners
    if keys != winners:
        return False, f"{winners - keys} duplicate (doc, span, surface) winners", winners
    if unknown:
        return False, f"{unknown} winner ids not in the artifact", winners
    return True, "", int(winners)
