"""Self-test of the benchmark harness at fixture scale.

    python3 -m pytest kgbench/tests -q

Runs the real harness in-process on two tiny workloads (a few hundred
mentions / documents) with fewer set-ups and warm runs, and checks that
every metric BENCHMARK.json names is emitted with its unit, and that a
corrupted output is counted as a failed run. Takes a few minutes: each
harness invocation launches its own JVM.
"""

import glob
import json
import os
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from kgbench import run as bench  # noqa: E402
from kgbench import spans  # noqa: E402
from kgbench.inputs import WORKLOADS, Workload  # noqa: E402

TINY = {
    "large_ontology": Workload("tiny_link", "link", 60, 40, 0, ("Gene", "Disease"), setups=2),
    "detect_docs": Workload("tiny_detect", "detect", 60, 0, 200, None, setups=2),
}
#: the layer that does a workload's work; its event-log figures must be
#: non-zero in a traced run
DOMINANT = {"large_ontology": "link_multi", "detect_docs": "mention_detect"}


@pytest.fixture(autouse=True)
def tiny(monkeypatch):
    for w in TINY.values():
        monkeypatch.setitem(WORKLOADS, w.name, w)
    monkeypatch.setattr(bench, "MIN_WARM", 1)
    monkeypatch.setattr(bench, "TRACE_WARM", 1)


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def units(entries: list[dict]) -> dict:
    return {e["name"]: e["unit"] for e in entries}


def emitted(result: dict) -> dict:
    return {k: v["unit"] for k, v in result["metrics"].items()}


def process_state() -> tuple:
    return {k: os.environ.get(k) for k in bench.SESSION_ENV}, tempfile.tempdir


def test_declared_metrics_match_the_harness():
    spec = declared()
    assert units(spec["end_to_end"]) == bench.END_TO_END
    assert units(spec["per_layer"]) == bench.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", sorted(TINY))
def test_every_metric_emitted_with_its_unit(workload):
    spec = declared()
    name = TINY[workload].name
    caller_state = process_state()
    r0 = bench.run(name, seed=3, seconds=0, trace=False)
    assert r0["correct"] and r0["failed"] == 0 and r0["attempted"] >= 2
    assert emitted(r0) == units(spec["end_to_end"])
    assert all(v["value"] > 0 for v in r0["metrics"].values())

    r1 = bench.run(name, seed=3, seconds=0, trace=True)
    assert r1["correct"] and r1["failed"] == 0
    assert emitted(r1) == units(spec["per_layer"])
    m = {k: v["value"] for k, v in r1["metrics"].items()}
    assert m["trace.layer_coverage"] > 0.5
    # the event log was found and its jobs attributed to the layer
    layer = DOMINANT[workload]
    assert m[f"{layer}.tasks"] > 0 and m[f"{layer}.executor_run_s"] > 0
    # the session's environment does not leak into the caller
    assert process_state() == caller_state
    assert os.path.isdir(tempfile.gettempdir())


def _drop_one_triple(out_dir: str) -> None:
    import pyarrow.parquet as pq

    for path in sorted(glob.glob(os.path.join(out_dir, "stages", "triples", "*", "*.parquet"))):
        t = pq.read_table(path)
        if t.num_rows:
            pq.write_table(t.slice(1), path)
            return
    raise AssertionError("no triples to drop")


def _unknown_winner(out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    for path in sorted(glob.glob(os.path.join(out_dir, "*.parquet"))):
        t = pq.read_table(path)
        if t.num_rows:
            ids = t.column("id").to_pylist()
            ids[0] = "BOGUS:0"
            i = t.schema.get_field_index("id")
            pq.write_table(t.set_column(i, "id", pa.array(ids, pa.string())), path)
            return
    raise AssertionError("no winners to corrupt")


@pytest.mark.parametrize(
    "workload,tamper",
    [("large_ontology", _drop_one_triple), ("detect_docs", _unknown_winner)],
)
def test_corrupted_output_counts_in_error_rate(workload, tamper, capsys):
    r = bench.run(TINY[workload].name, seed=3, seconds=0, trace=False, tamper=tamper)
    assert not r["correct"]
    assert r["failed"] == r["attempted"] >= 2
    out = capsys.readouterr().out
    assert "metric error_rate 1.0000 ratio" in out
    assert json.loads(out.strip().splitlines()[-1]) == r


def test_attribution_by_description_and_time():
    """Jobs name their span through the job description; a job without
    one goes to the innermost span open when it was submitted."""
    tr = spans.Tracer()
    with tr.span("run"):
        with tr.span("link_multi") as lm:
            pass
    run_s, lm_s = tr.spans[0], tr.spans[1]
    run_s.update(start=100.0, end=110.0)
    lm_s.update(start=101.0, end=105.0)

    def job(jid, start, end, desc, stages):
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start * 1000,
             "Stage IDs": stages, "Properties": {"spark.job.description": desc}},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end * 1000},
        ]

    def task(stage, run_ms, launch, finish):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                                 "JVM GC Time": 1}}

    log = (
        job(0, 101.5, 102.5, f"{spans.JOB_PREFIX}{lm['id']}", [0])
        + job(1, 103.0, 104.0, "", [1])
        + job(2, 106.0, 107.0, "", [2])
        + [task(0, 400, 0, 400), task(0, 800, 0, 800), task(1, 300, 0, 300), task(2, 50, 0, 50)]
    )
    stats = spans.attribute(tr.spans, [log])
    assert stats == {"jobs": 3, "by_description": 1, "by_time": 2, "unattributed": 0}
    assert lm_s["spark"]["tasks"] == 3
    assert lm_s["spark"]["executor_run_s"] == pytest.approx(1.5)
    assert lm_s["spark"]["task_skew"] == pytest.approx(800 / 600)
    assert lm_s["driver_s"] == pytest.approx(2.0)
    assert lm_s["io_tail_s"] == pytest.approx(1.0)
    assert run_s["self_s"] == pytest.approx(6.0)
