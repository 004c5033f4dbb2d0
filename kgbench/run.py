"""KG-construction benchmark: one seeded workload per invocation.

    python3 kgbench/run.py --workload large_ontology --seed 1 --seconds 15 --trace 0

Run from the repository root. The engine is driven only through its
public entry points (``session.get_spark``,
``dictionary_build.write_detection_artifact``,
``mention_detect.detect_mentions`` / ``best_candidate_per_mention``,
``plans.pipeline.run_pipeline``) on ``local[<cpus>]``. Every timed run's
output is checked. The last line of standard output is one JSON object:
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a
separate traced run with ``--trace 1``. Lines before it are a
human-readable report; a full JSON report is written under
``.bench_work/reports/``. See kgbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")

if __name__ == "__main__":  # run as a script: import the checkout, not kgbench/
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != os.path.dirname(__file__)]

from kgbench import checks, spans  # noqa: E402
from kgbench.inputs import (  # noqa: E402
    WORKLOADS,
    Workload,
    ensure_inputs,
    input_bytes,
    input_rows,
)

#: warm runs at least made per untraced run, whatever --seconds says
MIN_WARM = 3
#: warm runs on each side of the traced run's traced/untraced comparison
TRACE_WARM = 1
#: a run is flagged when load1 at its start exceeds this many times the
#: cpu count, or when more than STEAL_SHARE of the machine's cpu time
#: during it was stolen by the hypervisor (other guests on the host)
LOAD_FACTOR = 1.5
STEAL_SHARE = 0.05
#: driver JVM heap for the benchmark session (the engine default is 16g)
DRIVER_MEMORY = "4g"

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "rows_per_s": "rows/s",
    "write_bytes_per_input_byte": "ratio",
}

SPARK_METRICS = {
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "tasks": "count",
    "task_skew": "ratio",
    "driver_s": "s",
}

PER_LAYER: dict[str, str] = {
    # one sample per invocation and the most exposed to host contention,
    # so it is reported here, where no regression bound applies
    "cold_run_s": "s",
    # follows G1's heap-sizing decisions, which spread it by more than
    # the largest bound allowed across seeds; reported, not gated
    "peak_rss_mb": "MB",
    "fixtures.gen_s": "s",
    "session.start_s": "s",
    "dictionary_build.s": "s",
    "dictionary_build.artifact_bytes": "bytes",
    "mention_detect.s": "s",
    "mention_detect.cold_s": "s",
    "mention_detect.us_per_text_span": "us",
    "mention_detect.candidates": "count",
    "mention_detect.winners": "count",
    "mention_detect.winner_ratio": "ratio",
    "link_multi.s": "s",
    "link_multi.cold_s": "s",
    "link_multi.cold_driver_s": "s",
    "link_multi.plan_s": "s",
    "link_multi.formatted_rows": "count",
    "link_multi.failed_rows": "count",
    "canonicalize.s": "s",
    "canonicalize.cc_s": "s",
    "canonicalize.edges": "count",
    "canonicalize.nodes": "count",
    "canonicalize.components": "count",
    "triples.s": "s",
    "triples.rows": "count",
    "lineage.s": "s",
    **{
        f"stage_io.{stage}.{m}": unit
        for stage in ("formatted", "canonical", "triples", "detected")
        for m, unit in (("bytes", "bytes"), ("files", "count"), ("s", "s"))
    },
    **{
        f"{layer}.{m}": unit
        for layer in spans.SPARK_LAYERS
        for m, unit in SPARK_METRICS.items()
    },
    "trace.run_s": "s",
    "trace.untraced_run_s": "s",
    "trace.overhead_s": "s",
    "trace.layer_coverage": "ratio",
}


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (0.0, 0.0)
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; files starting with ``.`` or
    ``_`` (checksums, markers) are counted in bytes but not as files."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += not n.startswith((".", "_"))
    return total, files


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) cpu ticks of the whole machine since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def process_tree(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children's) used so far
    by this process and every process below it: the driver JVM, the
    PySpark daemon and its workers. The kernel leaves time stolen by the
    hypervisor out of these counters."""
    ticks = 0
    for pid in process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def rss_peak_mb(jvm_pid: int) -> float:
    """Sum of VmHWM over the driver JVM and every process below it (the
    PySpark daemon and its workers)."""
    total_kb = 0
    for pid in process_tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


class Bench:
    """One workload at one seed: set-up, timed runs and their checks.

    ``tracer``: when given, set-ups and runs record spans (the caller
    also turns the engine wrappers on). ``tamper``: called with a run's
    output directory before it is checked — the self-test uses it to
    corrupt an output and see the check fail."""

    def __init__(self, w: Workload, seed: int, run_dir: str, nproc: int, tamper=None):
        self.w = w
        self.run_dir = run_dir
        self.nproc = nproc
        self.tamper = tamper
        self.tracer: spans.Tracer | None = None
        self.spark = None
        self.artifact = ""
        t0 = time.perf_counter()
        self.inputs, self.meta = ensure_inputs(WORK, w, seed)
        self.load_s = time.perf_counter() - t0
        self.setups: list[float] = []

    # ------------------------------------------------------------ helpers
    def _span(self, name: str):
        if self.tracer is None:
            from contextlib import nullcontext

            return nullcontext()
        return self.tracer.span(name)

    def conf(self, event_log_dir: str | None) -> dict:
        tmp = os.path.join(self.run_dir, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # explicit: a JVM launched with the event log on would pass
            # it on to every later session as a system property
            "spark.eventLog.enabled": "false",
        }
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log_dir,
                    "spark.eventLog.compress": "true",
                    "spark.eventLog.compression.codec": "zstd",
                }
            )
        return conf

    # ------------------------------------------------------------ set-up
    def setup(self, n: int, event_log_dir: str | None = None) -> None:
        """``n`` set-ups, each a fresh session plus the workload's
        prerequisite artifact; the last one stays up for the runs. The
        first also launches the JVM."""
        from ontology_matcher_spark.operators.dictionary_build import (
            write_detection_artifact,
        )
        from ontology_matcher_spark.session import get_spark, stop_all

        for i in range(n):
            stop_all()
            if self.tracer is not None:
                self.tracer.run = f"setup-{i}"
                self.tracer.sc = None
            t0 = time.perf_counter()
            with self._span("session"):
                self.spark = get_spark(
                    f"kgbench-{self.w.name}",
                    master=f"local[{self.nproc}]",
                    extra_conf=self.conf(event_log_dir),
                )
            if self.tracer is not None:
                self.tracer.sc = self.spark.sparkContext
            if self.w.kind == "detect":
                if self.artifact:
                    shutil.rmtree(self.artifact, ignore_errors=True)
                self.artifact = os.path.join(self.run_dir, f"artifact-{len(self.setups)}")
                with self._span("dictionary_build"):
                    terms = self.spark.read.parquet(
                        os.path.join(self.inputs, "ontology_terms.parquet")
                    )
                    edges = self.spark.read.parquet(
                        os.path.join(self.inputs, "xref_edges.parquet")
                    )
                    write_detection_artifact(terms, self.artifact, edges)
            self.setups.append(time.perf_counter() - t0)

    # ------------------------------------------------------------ one run
    def _execute(self, out: str) -> dict:
        """The engine call under test; returns run facts the check needs."""
        if self.w.kind == "link":
            from ontology_matcher_spark.plans.pipeline import run_pipeline

            run_pipeline(
                self.spark,
                self.inputs,
                out,
                types=list(self.w.types) if self.w.types else None,
                num_partitions=2 * self.nproc,
            )
            return {}
        # the CLI `detect` verb: best candidate per mention → parquet
        from pyspark.sql import functions as F
        from pyspark.sql.observation import Observation

        from ontology_matcher_spark.operators.mention_detect import (
            best_candidate_per_mention,
            detect_mentions,
        )

        with self._span("mention_detect"):
            docs = self.spark.read.parquet(
                os.path.join(self.inputs, "documents.parquet")
            ).repartition(2 * self.nproc)
            obs = Observation("kgbench_candidates")
            cands = detect_mentions(docs, self.artifact).observe(
                obs, F.count(F.lit(1)).alias("n")
            )
            best_candidate_per_mention(cands).write.mode("overwrite").parquet(out)
        return {"candidates": int(obs.get["n"])}

    def run_once(self, tag: str) -> dict:
        from ontology_matcher_spark.functions.materialize import (
            clear_scratch,
            scratch_root,
        )

        out = os.path.join(self.run_dir, "out")
        shutil.rmtree(out, ignore_errors=True)
        rec: dict = {"tag": tag, "load1_before": os.getloadavg()[0]}
        if self.tracer is not None:
            self.tracer.run = tag
        steal0, total0 = cpu_ticks()
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self._span("run"):
                facts = self._execute(out)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s() - cpu0
            rec["load1_after"] = os.getloadavg()[0]
            steal1, total1 = cpu_ticks()
            rec["steal"] = (steal1 - steal0) / max(1, total1 - total0)
            rec["write_bytes"] = dir_stats(out)[0] + dir_stats(scratch_root(self.spark))[0]
            rec["stage_io"] = self._stage_io(out)
            if self.tamper is not None:
                self.tamper(out)
            rec.update(self._check(out, facts))
        except Exception as exc:  # a failed run is counted, not fatal
            rec.setdefault("wall_s", time.perf_counter() - t0)
            rec["ok"], rec["reason"] = False, f"{type(exc).__name__}: {exc}"[:500]
        rec["flagged"] = (
            rec["load1_before"] > LOAD_FACTOR * self.nproc
            or rec.get("steal", 0.0) > STEAL_SHARE
        )
        shutil.rmtree(out, ignore_errors=True)
        clear_scratch(self.spark)
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        return rec

    def _stage_io(self, out: str) -> dict:
        if self.w.kind == "detect":
            b, f = dir_stats(out)
            return {"detected": {"bytes": b, "files": f}}
        res = {}
        for stage in ("formatted", "canonical", "triples"):
            b, f = dir_stats(os.path.join(out, "stages", stage))
            res[stage] = {"bytes": b, "files": f}
        return res

    def _check(self, out: str, facts: dict) -> dict:
        if self.w.kind == "link":
            ok, reason = checks.check_link(out, self.meta["expected"])
            counts = checks.link_counts(out) if self.tracer is not None else {}
            return {"ok": ok, "reason": reason, "counts": counts}
        ok, reason, winners = checks.check_detect(out, self.artifact, facts["candidates"])
        return {"ok": ok, "reason": reason, "counts": {**facts, "winners": winners}}

    # ------------------------------------------------------------ timed runs
    def measure(self, n_warm: int) -> list[dict]:
        """The cold run, then ``n_warm`` warm runs.

        The count is fixed rather than set by a time budget: warm runs
        keep getting faster for many runs as the JVM compiles the
        engine's hot code, so a budget would give a fast host more and
        later samples and move the median by more than the host's speed
        alone."""
        recs = [self.run_once("cold")]
        for n in range(1, n_warm + 1):
            recs.append(self.run_once(f"warm-{n}"))
        return recs

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


# ---------------------------------------------------------------- metrics
def end_to_end(b: Bench, recs: list[dict]) -> dict:
    warm = [r for r in recs[1:] if r.get("ok")]
    run_s = median([r["wall_s"] for r in warm])
    ratios = [r["write_bytes"] / input_bytes(b.w, b.meta) for r in recs if "write_bytes" in r]
    return {
        "setup_s": median(b.setups),
        "run_s": run_s,
        "rows_per_s": input_rows(b.w, b.meta) / run_s if run_s else 0.0,
        "write_bytes_per_input_byte": median(ratios),
    }


def per_layer(
    b: Bench, traced: list[dict], untraced: list[dict], stats: dict, rss_mb: float
) -> dict:
    """Per-layer metrics of the traced run: medians over its warm runs
    (set-up layers: over its set-ups); 0 where the workload has no such
    layer."""
    tr = b.tracer
    by_run: dict[str, list[dict]] = {}
    for s in tr.spans:
        by_run.setdefault(s["run"], []).append(s)
    warm_tags = [r["tag"] for r in traced[1:]]

    def layer_vals(run_tags, name: str, field: str) -> float:
        vals = []
        for tag in run_tags:
            ss = [s for s in by_run.get(tag, []) if s["name"] == name]
            if ss:
                vals.append(sum(_field(s, field) for s in ss))
        return median(vals)

    setup_tags = [t for t in by_run if t.startswith("setup-")]
    m: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    m["cold_run_s"] = untraced[0]["wall_s"]
    m["peak_rss_mb"] = rss_mb
    m["fixtures.gen_s"] = b.meta["gen_s"]
    m["session.start_s"] = layer_vals(setup_tags, "session", "wall_s")
    m["dictionary_build.s"] = layer_vals(setup_tags, "dictionary_build", "wall_s")
    m["dictionary_build.artifact_bytes"] = float(dir_stats(b.artifact)[0]) if b.artifact else 0.0
    for layer in spans.SPARK_LAYERS:
        tags = setup_tags if layer == "dictionary_build" else warm_tags
        for k in SPARK_METRICS:
            m[f"{layer}.{k}"] = layer_vals(tags, layer, k)
    for layer in ("mention_detect", "link_multi", "canonicalize", "triples", "lineage"):
        m[f"{layer}.s"] = layer_vals(warm_tags, layer, "wall_s")
    m["link_multi.plan_s"] = layer_vals(warm_tags, "link_multi.plan", "wall_s")
    m["canonicalize.cc_s"] = layer_vals(warm_tags, "canonicalize.cc", "wall_s")
    m["link_multi.cold_s"] = layer_vals(["cold"], "link_multi", "wall_s")
    m["link_multi.cold_driver_s"] = layer_vals(["cold"], "link_multi", "driver_s")
    m["mention_detect.cold_s"] = layer_vals(["cold"], "mention_detect", "wall_s")

    for stage, layer in spans.STAGE_LAYER.items():
        m[f"stage_io.{stage}.s"] = layer_vals(warm_tags, layer, "io_tail_s")
        for k in ("bytes", "files"):
            vals = [r["stage_io"][stage][k] for r in traced[1:] if stage in r.get("stage_io", {})]
            m[f"stage_io.{stage}.{k}"] = median(vals)

    counts = [r.get("counts", {}) for r in traced[1:] if r.get("ok")]

    def count(key: str) -> float:
        return median([c[key] for c in counts if key in c])

    if b.w.kind == "link":
        m["link_multi.formatted_rows"] = count("formatted")
        # conservation: every mention in leaves as a formatted or a failed row
        m["link_multi.failed_rows"] = b.meta["mentions_in"] - m["link_multi.formatted_rows"]
        m["canonicalize.edges"] = count("cc_edges")
        m["canonicalize.nodes"] = count("cc_nodes")
        m["canonicalize.components"] = count("cc_components")
        m["triples.rows"] = float(b.meta["expected"]["triples"])
    else:
        cands, wins = count("candidates"), count("winners")
        m["mention_detect.candidates"] = cands
        m["mention_detect.winners"] = wins
        m["mention_detect.winner_ratio"] = wins / cands if cands else 0.0
        m["mention_detect.us_per_text_span"] = (
            m["mention_detect.executor_run_s"] * 1e6 / b.meta["text_spans"]
        )

    traced_s = median([r["wall_s"] for r in traced[1:] if r.get("ok")])
    untraced_s = median([r["wall_s"] for r in untraced[1:] if r.get("ok")])
    m["trace.run_s"] = traced_s
    m["trace.untraced_run_s"] = untraced_s
    m["trace.overhead_s"] = traced_s - untraced_s
    m["trace.layer_coverage"] = median([stats["coverage"][t] for t in warm_tags])
    return m


def _field(span: dict, field: str) -> float:
    if field in span:
        return float(span[field])
    return float(span.get("spark", {}).get(field, 0.0))


def coverage(tr: spans.Tracer) -> dict[str, float]:
    """Per run: the share of the run's wall time that its layer spans'
    self times account for (the rest is the root span's own time)."""
    out = {}
    for root in (s for s in tr.spans if s["name"] == "run"):
        inner = [
            s for s in tr.spans
            if s["run"] == root["run"] and s["name"] != "run"
        ]
        out[root["run"]] = sum(s["self_s"] for s in inner) / root["wall_s"]
    return out


# ---------------------------------------------------------------- report
def env_record(b: Bench) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": b.nproc,
        "load1": os.getloadavg()[0],
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "java": str(b.spark.sparkContext._jvm.java.lang.System.getProperty("java.version")),
        "driver_memory": DRIVER_MEMORY,
    }


def print_runs(label: str, recs: list[dict]) -> None:
    for r in recs:
        status = "ok" if r.get("ok") else f"FAILED ({r.get('reason')})"
        flag = " FLAGGED" if r["flagged"] else ""
        print(
            f"run {label} {r['tag']:8s} wall={r['wall_s']:.3f}s cpu={r.get('cpu_s', float('nan')):.2f}s load1 "
            f"{r['load1_before']:.2f}->{r.get('load1_after', float('nan')):.2f} "
            f"steal={r.get('steal', float('nan')):.3f} {status}{flag}"
        )


#: environment variables session_env sets for the session's JVMs
SESSION_ENV = (
    "TMPDIR",
    "SPARK_LAUNCHER_OPTS",
    "SPARK_LOCAL_DIRS",
    "SPARK_DRIVER_MEMORY",
    "PYTHONPATH",
)


@contextmanager
def session_env(run_dir: str):
    """Keep every file the session writes inside the checkout and make
    the Python workers import this checkout's engine. The caller's
    environment and temporary directory are put back on exit, so an
    in-process caller (the self-test) keeps its own."""
    saved = {k: os.environ.get(k) for k in SESSION_ENV}
    saved_tempdir = tempfile.tempdir
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the short-lived JVM spark-submit runs to build the driver's command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in (saved["PYTHONPATH"] or "").split(os.pathsep) if p]
    )
    tempfile.tempdir = tmp
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = saved_tempdir


def shutdown() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    from ontology_matcher_spark.session import stop_all

    gw = SparkContext._gateway
    stop_all()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: float, trace: bool, tamper=None) -> dict:
    """One benchmark invocation → the result object (also printed)."""
    w = WORKLOADS[workload]
    nproc = cpu_count()
    run_dir = os.path.join(WORK, "runs", f"{w.name}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        with session_env(run_dir):
            return _run(w, seed, seconds, trace, nproc, run_dir, tamper)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(
    w: Workload, seed: int, seconds: float, trace: bool, nproc: int, run_dir: str, tamper
) -> dict:
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    print(f"# kgbench workload={w.name} seed={seed} seconds={seconds} trace={int(trace)}")
    b = Bench(w, seed, run_dir, nproc, tamper=tamper)
    print(
        f"input rows={b.meta['rows']} bytes={b.meta['bytes']} "
        f"fixtures.gen_s={b.meta['gen_s']:.3f} oracle_s={b.meta['oracle_s']:.3f} "
        f"(cache load {b.load_s:.3f}s)"
    )
    report: dict = {"workload": w.name, "seed": seed, "seconds": seconds, "trace": trace}
    try:
        if not trace:
            b.setup(w.setups)
            report["env"] = env_record(b)
            n_warm = max(MIN_WARM, round(seconds / w.nominal_run_s))
            print(f"warm runs {n_warm} (--seconds {seconds} / {w.nominal_run_s} s nominal per run)")
            recs = b.measure(n_warm)
            rss = rss_peak_mb(b.jvm_pid())
            metrics = end_to_end(b, recs)
            units = END_TO_END
            print_runs("untraced", recs)
        else:
            # untraced, then traced, each in a fresh JVM after the same
            # set-ups, so both sides have the same history and their
            # difference is the overhead
            b.setup(w.setups)
            untraced = b.measure(TRACE_WARM)
            rss = rss_peak_mb(b.jvm_pid())
            shutdown()
            b.tracer = spans.Tracer()
            ev_dir = os.path.join(run_dir, "eventlog")
            with spans.wrapped(b.tracer):
                b.setup(w.setups, event_log_dir=ev_dir)
                report["env"] = env_record(b)
                traced = b.measure(TRACE_WARM)
            b.tracer.sc = None
            from ontology_matcher_spark.session import stop_all

            stop_all()  # flushes the event log
            stats = {"attribution": spans.attribute(b.tracer.spans, spans.read_event_log(ev_dir))}
            stats["coverage"] = coverage(b.tracer)
            recs = traced + untraced
            metrics = per_layer(b, traced, untraced, stats, rss)
            units = PER_LAYER
            print_runs("traced", traced)
            print_runs("untraced", untraced)
            print(f"trace jobs={stats['attribution']} coverage={stats['coverage']}")
            report["spans"] = b.tracer.spans
            report["trace_stats"] = stats
    finally:
        shutdown()
    attempted = len(recs)
    failed = sum(1 for r in recs if not r.get("ok"))
    report.update(records=recs, setups=b.setups, meta=b.meta)
    env = report.get("env", {})
    print(
        "env " + " ".join(f"{k}={v}" for k, v in env.items())
        + f" load1_end={os.getloadavg()[0]:.2f} flagged_runs={sum(r['flagged'] for r in recs)}"
    )
    print(f"setup samples {[round(x, 3) for x in b.setups]}")
    if not trace:
        warm = [r["wall_s"] for r in recs[1:] if r.get("ok")]
        q1, q3 = quartiles(warm)
        print(f"run_s median={metrics['run_s']:.3f}s p25={q1:.3f}s p75={q3:.3f}s n={len(warm)}")
        print(f"cold_run_s {recs[0]['wall_s']:.3f} s (one sample; a per-layer metric, not gated)")
        print(f"peak_rss_mb {rss:.1f} MB (a per-layer metric, not gated)")
    print(f"metric error_rate {failed / attempted:.4f} ratio ({failed} failed of {attempted} attempted)")
    for k, unit in units.items():
        print(f"metric {k} {metrics[k]:.6g} {unit}")
    report["metrics"] = metrics
    with open(os.path.join(WORK, "reports", f"{w.name}-s{seed}-t{int(trace)}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ontology_matcher_spark")):
        print(f"no engine checkout at {ROOT}", file=sys.stderr)
        return 2
    run(args.workload, args.seed, args.seconds, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
