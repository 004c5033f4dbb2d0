"""Measure the engine's codegen working set and what a too-small codegen
class cache costs.

Spark compiles every distinct generated class with Janino once per JVM
and keeps it in an LRU cache of ``spark.sql.codegen.cache.maxEntries``
classes (a static conf, fixed when the JVM first generates code). If
the classes one run needs outnumber the cache, every repeat run evicts
and re-compiles some, and HotSpot's JIT threads re-compile the new
bytecode. This probe runs the engine's pipeline shapes in one fresh
JVM, ``--passes`` times over, and prints per run:

- Janino compiles and their milliseconds (Spark's ``CodegenMetrics``);
- cpu seconds of the JVM's threads by family: C2 and C1 JIT compilers,
  GC, executor task threads, and the rest (exited threads included),
  read from ``/proc/<jvm pid>/task/*/stat``;
- the JVM's metaspace in use.

Then the working set: the classes compiled by the first pass. While
that is no more than the cache holds, nothing was evicted; two jobs
compiling one class at once still count it twice. Size the cache in
``session.get_spark`` well above it. A warm pass that still compiles
while the cache is not full means some generated source changes from
run to run.

Usage (from the repo root; each invocation starts its own JVM):
    python tools/codegen_probe.py                      # engine default cap
    python tools/codegen_probe.py --max-entries 100    # Spark's default
    python tools/codegen_probe.py --shapes gene_disease --passes 4 \\
        --clusters 3000 --mentions 10000 --docs 0     # large_ontology sizes
Shapes: five_types_detect, five_types_unique, gene_disease, lazy_detect,
star_loop_cc (the distributed CC loop, small-graph guard off). The
detection shapes need ``--docs`` > 0.
"""

from __future__ import annotations

import argparse
import gc
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SHAPES = (
    "five_types_detect",
    "five_types_unique",
    "gene_disease",
    "lazy_detect",
    "star_loop_cc",
)

#: thread-name prefix → family (Linux truncates names to 15 chars)
FAMILIES = (
    ("C2 CompilerThre", "c2"),
    ("C1 CompilerThre", "c1"),
    ("GC Thread", "gc"),
    ("G1 ", "gc"),
    ("Executor task l", "executor"),
)

CLK_TCK = os.sysconf("SC_CLK_TCK")

#: samples a Dropwizard histogram keeps; sums over its snapshot are
#: exact only while its count is at most this
RESERVOIR = 1028


def run_shape(spark, shape: str, fixture_dir: str, out: str, parts: int) -> None:
    from ontology_matcher_spark.ontology_types import Strategy
    from ontology_matcher_spark.operators.canonicalize import connected_components
    from ontology_matcher_spark.plans.pipeline import build_pipeline_lazy, run_pipeline

    if shape == "five_types_detect":
        run_pipeline(spark, fixture_dir, out, num_partitions=parts, detect_documents=True)
    elif shape == "five_types_unique":
        run_pipeline(spark, fixture_dir, out, num_partitions=parts, strategy=Strategy.UNIQUE)
    elif shape == "gene_disease":
        run_pipeline(
            spark, fixture_dir, out, num_partitions=parts, types=["Gene", "Disease"]
        )
    elif shape == "lazy_detect":
        build_pipeline_lazy(
            spark, fixture_dir, num_partitions=parts, detect_documents=True
        ).write.parquet(out)
    elif shape == "star_loop_cc":
        edges = spark.read.parquet(os.path.join(fixture_dir, "xref_edges.parquet"))
        connected_components(
            edges, src="src_curie", dst="dst_curie", small_graph_threshold=None
        ).write.parquet(out)
    else:
        raise ValueError(f"unknown shape {shape!r}")


def codegen_totals(jvm) -> dict:
    """Cumulative Janino compiles, compile ms and generated-class
    bytecode bytes of this JVM (ms and bytes are None once a histogram
    has sampled past its reservoir)."""
    m = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def total(h):
        return sum(h.getSnapshot().getValues()) if h.getCount() <= RESERVOIR else None

    comp = m.METRIC_COMPILATION_TIME()
    return {
        "compiles": comp.getCount(),
        "compile_ms": total(comp),
        "bytecode": total(m.METRIC_GENERATED_CLASS_BYTECODE_SIZE()),
    }


def thread_cpu(pid: int) -> tuple[dict, float]:
    """({tid: (family, cpu seconds)} of the live threads of process
    ``pid``, cpu seconds of the whole process, exited threads
    included)."""
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:  # the thread exited meanwhile
            continue
        name = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw.rsplit(")", 1)[1].split()
        fam = next((f for p, f in FAMILIES if name.startswith(p)), "other")
        threads[tid] = (fam, (int(fields[11]) + int(fields[12])) / CLK_TCK)
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return threads, (int(fields[11]) + int(fields[12])) / CLK_TCK


def cpu_by_family(before: tuple, after: tuple) -> dict:
    """cpu seconds spent between two ``thread_cpu`` readings, per
    family. Counted per thread, so a JIT compiler thread that HotSpot
    retires meanwhile does not turn its family negative: the cpu of
    threads gone by ``after`` lands in ``other``."""
    (th0, total0), (th1, total1) = before, after
    d = {"c2": 0.0, "c1": 0.0, "gc": 0.0, "executor": 0.0}
    for tid, (fam, cpu) in th1.items():
        if fam in d:
            d[fam] += cpu - th0.get(tid, (fam, 0.0))[1]
    d["total"] = total1 - total0
    d["other"] = d["total"] - sum(d[f] for f in ("c2", "c1", "gc", "executor"))
    return d


def metaspace_mb(jvm) -> float:
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            return pool.getUsage().getUsed() / 2**20
    return float("nan")


def _delta(a, b):
    return None if a is None or b is None else b - a


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--shapes", nargs="+", choices=SHAPES, default=list(SHAPES))
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--max-entries", type=int, default=None,
                    help="override spark.sql.codegen.cache.maxEntries")
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--clusters", type=int, default=60)
    ap.add_argument("--mentions", type=int, default=40)
    ap.add_argument("--docs", type=int, default=200)
    args = ap.parse_args()

    from ontology_matcher_spark import fixtures as fx
    from ontology_matcher_spark.functions.materialize import clear_scratch
    from ontology_matcher_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="codegen_probe_")
    spark = None
    try:
        fixture_dir = os.path.join(work, "fixtures")
        fx.write_parquet(
            fx.generate(
                seed=args.seed,
                clusters_per_type=args.clusters,
                mentions_per_type=args.mentions,
                n_docs=args.docs,
            ),
            fixture_dir,
        )
        extra = {
            "spark.local.dir": os.path.join(work, "local"),
            "spark.ui.showConsoleProgress": "false",
        }
        if args.max_entries is not None:
            extra["spark.sql.codegen.cache.maxEntries"] = str(args.max_entries)
        spark = get_spark(
            "codegen-probe",
            master=f"local[{args.cpus}]",
            shuffle_partitions=2 * args.cpus,
            extra_conf=extra,
        )
        jvm = spark.sparkContext._jvm
        pid = int(jvm.java.lang.ProcessHandle.current().pid())
        cap = spark.conf.get("spark.sql.codegen.cache.maxEntries")
        print(f"codegen cache maxEntries={cap}  jvm pid={pid}")
        print(
            f"{'pass':>4} {'shape':<18} {'wall_s':>7} {'compiles':>8} "
            f"{'comp_ms':>8} {'cpu_s':>6} {'c2_s':>5} {'c1_s':>5} "
            f"{'gc_s':>5} {'exec_s':>6} {'other_s':>7} {'meta_mb':>7}"
        )
        per_pass = []
        for p in range(1, args.passes + 1):
            c_pass = codegen_totals(jvm)
            for shape in args.shapes:
                out = os.path.join(work, "out")
                c0, t0, w0 = codegen_totals(jvm), thread_cpu(pid), time.perf_counter()
                run_shape(spark, shape, fixture_dir, out, 2 * args.cpus)
                wall = time.perf_counter() - w0
                c1, t1 = codegen_totals(jvm), thread_cpu(pid)
                d = cpu_by_family(t0, t1)
                ms = _delta(c0["compile_ms"], c1["compile_ms"])
                print(
                    f"{p:>4} {shape:<18} {wall:>7.2f} "
                    f"{c1['compiles'] - c0['compiles']:>8} "
                    f"{'n/a' if ms is None else f'{ms:.0f}':>8} "
                    f"{d['total']:>6.1f} {d['c2']:>5.1f} {d['c1']:>5.1f} "
                    f"{d['gc']:>5.1f} {d['executor']:>6.1f} {d['other']:>7.1f} "
                    f"{metaspace_mb(jvm):>7.1f}",
                    flush=True,
                )
                shutil.rmtree(out, ignore_errors=True)
                clear_scratch(spark)
                gc.collect()
                jvm.System.gc()
            c_end = codegen_totals(jvm)
            per_pass.append(
                (
                    c_end["compiles"] - c_pass["compiles"],
                    _delta(c_pass["bytecode"], c_end["bytecode"]),
                )
            )
        for p, (n, b) in enumerate(per_pass, 1):
            kb = "n/a" if b is None else f"{b / 1024:.0f} KB bytecode"
            print(f"pass {p}: {n} compiles ({kb})")
        n1 = per_pass[0][0]
        if n1 <= int(cap):
            print(f"working set: {n1} classes (the cache never filled)")
        else:
            print(
                f"working set: at most {n1} classes (the cache filled, so the "
                "first pass may have compiled a class twice; raise "
                "--max-entries above that for an exact count)"
            )
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
