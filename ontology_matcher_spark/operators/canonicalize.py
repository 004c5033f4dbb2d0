"""Stage 6 — equivalence closure + canonical pick (SURVEY.md §2.3 J6).

The reference's dedup command is a stub whose intended algorithm is an
equivalence-class resolution over xref edges
(/root/reference/ontology_matcher/cli.py:168-296, commented out). We
make it explicit: iterative connected components via alternating
large-star / small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", 2014) expressed as DataFrame ops — O(log n)
rounds, each round one aggregation + one join shuffle, per-round
`localCheckpoint` to cut lineage (Catalyst cannot express the loop —
SURVEY.md §4 item 2).

min/first aggregations are skew-immune (map-side partial agg), so the
hub entities need no salting HERE; the salted two-phase pattern lives
in functions/salting.py for the collect-type final aggregation (A8).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontology_matcher_spark.functions.materialize import (
    drop_materialized,
    materialize_at,
    scratch_root,
)
from ontology_matcher_spark.ontology_types import OntologyType, type_table


def _sym(e: DataFrame) -> DataFrame:
    return e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _min_neighbor(n: DataFrame) -> DataFrame:
    """m(u) = min(Γ(u) ∪ {u}) — a plain agg, skew-immune."""
    return n.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))


def _star_round(e: DataFrame) -> DataFrame:
    """One large-star + small-star round, fully LAZY (no action).

    NO intermediate .distinct(): min/first aggregation is
    multiset-safe and the joins multiply rows only by the (bounded,
    small) duplicate multiplicity — each removed distinct was a full
    extra shuffle per round; the round-output distinct resets
    multiplicity."""
    # ---- large-star: attach bigger neighbours to min neighbour
    n = _sym(e)
    m = _min_neighbor(n)
    e = (
        n.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )
    # ---- small-star: orient max→min, attach small neighbours + self
    t = _sym(e).where(F.col("u") >= F.col("v"))
    m = _min_neighbor(t)
    return (
        t.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(m.select("u", F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _driver_union_find(e: DataFrame, pdf=None) -> DataFrame:
    """Exact CC for a SMALL edge list: one Arrow collect → union-find
    with path halving → root = lexicographic min member → parallelize
    the mapping back. Semantics identical to the distributed star
    loop (node, root=min member, one row per node appearing in edges).

    ``pdf``: pass the already-collected edges (pandas) to skip the
    collect — the guard in connected_components collects while
    checking the threshold, so the rows never cross twice.

    This is the same adaptive-strategy call a broadcast join makes:
    below the threshold the driver pass is strictly better — the star
    loop pays ~1-2 s of fixed per-round latency (6 shuffle stages + a
    scratch write) × O(log n) rounds regardless of size, while 43k
    edges union-find in milliseconds (measured: the bench graph's CC
    dropped from ~7-10 s to ~1 s at every parallelism level)."""
    import pandas as pd

    # output schema derives from the edge columns (callers may pass
    # non-string node ids; hardcoding strings coerced them silently)
    u_type = e.schema["u"].dataType.simpleString()
    if pdf is None:
        pdf = e.toPandas()
    codes, uniques = pd.factorize(
        pd.concat([pdf["u"], pdf["v"]], ignore_index=True)
    )
    n = len(uniques)
    us = codes[: len(pdf)]
    vs = codes[len(pdf) :]
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in zip(us, vs):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    roots = [find(i) for i in range(n)]
    out = pd.DataFrame({"node": uniques, "__r": roots})
    out["root"] = out.groupby("__r")["node"].transform("min")
    return e.sparkSession.createDataFrame(
        out[["node", "root"]], schema=f"node {u_type}, root {u_type}"
    )


#: edge-row threshold for the driver union-find fast path. 500k edge
#: strings ≈ ~30 MB collected — bounded driver memory, same contract
#: as spark.sql.autoBroadcastJoinThreshold. The RAW (pre-distinct)
#: count is the guard — a scan-only agg, no shuffle — so the check
#: itself stays cheap at 100 TB, where the distributed loop runs.
SMALL_GRAPH_EDGES = 500_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    small_graph_threshold: int | None = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Undirected CC → DataFrame(node, root) where root = the
    lexicographically smallest member of the node's component
    (self-rows included for every node appearing in ``edges``).

    Each star-round is materialized. A round references its input
    ~4-6 times (symmetrize + agg + join on each side), and WITHOUT a
    materialization between rounds those references re-execute the
    previous round's whole subplan inside one job — measured
    interleaved on the bench graph at local[16]: 1 round per write =
    5.8-17s, 2 rounds per write = 17.8-30s. The per-round write is
    what makes each upstream reference a cheap parquet scan.
    Convergence is detected from the signature riding each write
    (bit_xor, order-independent — a sum of hashes overflows under
    ANSI mode); each round costs exactly ONE action."""
    spark = edges.sparkSession
    run_dir = os.path.join(scratch_root(spark), f"cc-{uuid.uuid4().hex[:8]}")
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u") != F.col("v")
    )
    # fast-path guard fused with its collect in ONE action:
    # distinct().limit(threshold+1).toPandas() — the distinct runs as
    # a normal parallel shuffle (map-side partial dedup; the output is
    # ontology-bounded for mention-derived lists even when the raw
    # multiset is corpus-sized), the limit caps what ever reaches the
    # driver, and when fewer than threshold+1 rows come back we
    # already HOLD the complete distinct edge set. Earlier shapes
    # measured this round: full-scan count + second collect (r5, two
    # full passes), distinct-materialize-first (3 actions — doubled
    # bench kg_cc), raw-limit first (wasted a 500k-row serial collect
    # on every big-raw/small-distinct graph, the lazy pipeline's
    # common case). Truly big distinct graphs fall through to the star
    # loop, which re-runs the distinct into its materialized round-0
    # table — amortized by the loop it feeds.
    if small_graph_threshold:
        head = raw.distinct().limit(small_graph_threshold + 1).toPandas()
        if len(head) <= small_graph_threshold:
            return _driver_union_find(raw, pdf=head)
    e = raw.distinct()
    if small_graph_threshold:
        e = materialize_at(e, os.path.join(run_dir, "edges0"))
    all_nodes = materialize_at(
        _sym(e).select(F.col("u").alias("node")).distinct(),
        os.path.join(run_dir, "nodes"),
    )
    prev_sig: tuple | None = None
    # the materialized distinct edge table (if any) is consumed by
    # round 0 and then reaped like any other round table
    prev_path = (
        os.path.join(run_dir, "edges0")
        if small_graph_threshold
        else None
    )
    from pyspark.sql.observation import Observation

    for rnd in range(max_iter):
        e = _star_round(e)
        # cut lineage per materialization; the previous table is
        # dropped as soon as this one lands (no storage-memory leak).
        obs = Observation(f"cc_sig_{rnd}")
        path = os.path.join(run_dir, f"round-{rnd}")
        e = materialize_at(
            e.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)
                ).alias("h"),
            ),
            path,
        )
        if prev_path:
            drop_materialized(prev_path)
        prev_path = path
        row = obs.get
        sig = (row["n"], row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # converged: e is a star child→root (root < child)
    mapping = e.groupBy("u").agg(F.min("v").alias("root")).select(
        F.col("u").alias("node"), "root"
    )
    return (
        all_nodes.join(mapping, "node", "left")
        .select("node", F.coalesce("root", "node").alias("root"))
    )


def canonical_assignment_by_label(
    edges: DataFrame,
    node_labels: DataFrame,
    types: dict[str, OntologyType],
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """ONE global CC over a multi-type graph, then a per-label
    canonical pick: min member in the label's default namespace, else
    min member (explicit form of the reference's stubbed dedup merge,
    cli.py:201-245). ``node_labels``: DataFrame(curie, label); the
    label's row of the ``types`` table gives its default namespace, and
    an unlabelled node has none. Running CC
    once for all entity types matters — each CC is a serial driver
    loop whose fixed per-round latency does not parallelize, so five
    per-type loops cost 5× the non-scalable time of one.

    → DataFrame(node, canonical)."""
    cc = connected_components(edges, src=src, dst=dst)
    lbl = node_labels.groupBy(F.col("curie").alias("node")).agg(
        F.min("label").alias("label")
    )
    defaults = type_table(edges.sparkSession, types).selectExpr(
        "label", "default AS defns"
    )
    nodes = (
        cc.join(F.broadcast(lbl), "node", "left")
        .join(F.broadcast(defaults), "label", "left")
        .select("node", "root", "defns")
    )
    pick = nodes.groupBy("root").agg(
        F.coalesce(
            F.min(
                F.when(
                    F.col("node").startswith(F.concat(F.col("defns"), F.lit(":"))),
                    F.col("node"),
                )
            ),
            F.min("node"),
        ).alias("canonical")
    )
    return nodes.join(pick, "root").select("node", "canonical")
