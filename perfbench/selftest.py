"""Self-test of the benchmark's own machinery; needs no Spark session.

    python3 perfbench/selftest.py

Checks that a job lands in the call span whose window contains its
submission (and that a job outside every call span stays unattributed),
that the event-log parser reads jobs and task metrics, that a planted
wrong output raises ``failed_op_share``, and that every metric named in
``BENCHMARK.json`` is emitted with its unit.
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _task_end(stage: int, records_in: int, exec_ms: int) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": exec_ms, "JVM GC Time": 5,
            "Input Metrics": {"Records Read": records_in},
            "Output Metrics": {"Records Written": 0},
            "Shuffle Read Metrics": {"Total Records Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000,
                                      "Shuffle Records Written": 0},
        },
    }


def test_job_lands_in_containing_span() -> None:
    tr = spans.Tracer()
    tr.spans = [
        spans.Span("traced", 100.0, 200.0, None, "run"),
        spans.Span("batch0", 100.0, 150.0, 0, "cycle"),
        spans.Span("silver.transform_records", 100.0, 110.0, 1, "call"),
        spans.Span("gold.build_star_schema", 120.0, 150.0, 1, "call"),
    ]
    log_dir = HERE / "_work" / "selftest"
    shutil.rmtree(log_dir, ignore_errors=True)
    log_dir.mkdir(parents=True)
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 120_500, "Stage IDs": [0, 1]},
        # a later job that lists stage 1 again (reused shuffle output)
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 121_000, "Stage IDs": [1, 2]},
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Submission Time": 170_000, "Stage IDs": [3]},
        _task_end(0, 10, 1000), _task_end(0, 0, 1000),
        _task_end(1, 5, 500), _task_end(2, 0, 250), _task_end(3, 1, 100),
    ]
    (log_dir / "events_1_app").write_text(
        "".join(json.dumps(e) + "\n" for e in events))
    jobs, stages = spans.parse_event_log(log_dir)
    assert len(jobs) == 3 and stages[0].tasks == 2, (jobs, stages)
    roll = spans.rollup(tr.spans, jobs, stages)
    gold = roll["gold.build_star_schema"]
    assert gold["jobs"] == 2 and gold["tasks"] == 4, gold
    assert gold["empty_tasks"] == 2, gold
    assert abs(gold["exec_run_s"] - 2.75) < 1e-9, gold
    assert abs(gold["shuffle_write_mb"] - 8.0) < 1e-9, gold
    assert roll["silver.transform_records"]["jobs"] == 0
    assert [j.job_id for j in spans.assign_jobs(tr.spans, jobs)[None]] == [2]
    assert abs(spans.span_coverage(tr.spans) - 0.8) < 1e-9
    shutil.rmtree(log_dir)


def test_planted_wrong_output_fails_op() -> None:
    cols = ["k", "v"]
    want = {"columns": ["k", "v"], "rows": [["a", 1.5], ["b", 2.0]]}
    ops = workloads.Ops()
    ops.add("q.ok", workloads.query_ok(cols, [("b", 2.0), ("a", 1.5)],
                                       want))
    ops.add("q.tolerance", workloads.query_ok(
        cols, [("a", 1.5 * (1 + 1e-12)), ("b", 2.0)], want))
    assert ops.failed == 0 and ops.failed_share() == 0.0
    ops.add("q.planted", workloads.query_ok(
        cols, [("a", 1.5), ("b", 2.5)], want))
    assert ops.failed == 1 and ops.failed_share() == 1 / 3
    assert not workloads.query_ok(["k", "w"], [("a", 1.5), ("b", 2.0)], want)


def test_every_declared_metric_is_emitted() -> None:
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    e2e = {"metrics": dict.fromkeys(run.END_TO_END, 1.0),
           "attempted": 3, "failed": 0}
    line = run.result_line(e2e, trace=False)
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == declared

    metrics = run.layer_metrics(
        {}, {}, overhead=0.0, coverage=1.0, failed_share=0.0,
        unattributed=0, gen_s=0.0, cold_cycle=1.0, warm_cycle=1.0,
        peak_rss=1.0)
    line = run.result_line({"metrics": metrics, "attempted": 1,
                            "failed": 0}, trace=True)
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == declared
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}")
