"""Dump the optimized logical plans of link_mentions_multi.

Writes one text file per (type set, strategy, output) with expression
ids (``#<id>``) and the fixture directory stripped, so dumps of two
code versions diff cleanly: a change that only alters how the driver
BUILDS the plan must leave these files byte-identical.

Usage:
    python tools/plan_dump.py --out DIR [--types Gene,Disease|all ...]
                              [--strategy Mixture Unique]
Defaults: every combination of {Gene,Disease | all five types} ×
{Mixture, Unique} over the committed fixtures/ corpus. To dump another
checkout's plans, copy this script into that checkout and run it there.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
FIXTURES = os.path.join(REPO, "fixtures")

_EXPR_ID = re.compile(r"#\d+L?")


def dump(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return _EXPR_ID.sub("", plan).replace(FIXTURES, "<fixtures>")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--types", nargs="+", default=["Gene,Disease", "all"])
    ap.add_argument("--strategy", nargs="+", default=["Mixture", "Unique"])
    args = ap.parse_args()

    from ontology_matcher_spark.ontology_types import ONTOLOGY_TYPES, Strategy
    from ontology_matcher_spark.operators.link_multi import link_mentions_multi
    from ontology_matcher_spark.session import get_spark

    spark = get_spark("plan-dump", master="local[2]", shuffle_partitions=4)
    spark.conf.set("spark.sql.debug.maxToStringFields", "10000")
    read = lambda n: spark.read.parquet(  # noqa: E731
        os.path.join(FIXTURES, f"{n}.parquet")
    )
    mentions, edges, terms = read("mentions"), read("xref_edges"), read("ontology_terms")

    os.makedirs(args.out, exist_ok=True)
    for tset in args.types:
        names = list(ONTOLOGY_TYPES) if tset == "all" else tset.split(",")
        types = {n: ONTOLOGY_TYPES[n] for n in names}
        tag = "all" if tset == "all" else "_".join(names)
        for s in args.strategy:
            strategy = Strategy(s)
            formatted, failed = link_mentions_multi(
                mentions, edges, terms, types, strategy
            )
            for kind, df in (("formatted", formatted), ("failed", failed)):
                path = os.path.join(args.out, f"{tag}_{s.lower()}_{kind}.txt")
                with open(path, "w") as fh:
                    fh.write(dump(df))
                print(path)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
