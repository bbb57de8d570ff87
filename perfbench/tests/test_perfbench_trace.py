"""Tests for the benchmark's own logic: span arithmetic, the event-log
parser and per-layer attribution on a small canned log, and the metric
names it declares.  No Spark needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from trace import (  # noqa: E402
    NAME_RE,
    EventLog,
    Span,
    Tracer,
    count_plan_nodes,
    layer_stats,
    read_events,
    self_times,
)

SQL = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecution"


def _task(stage: int, run_ms: int, cpu_ms: int, gc_ms: int = 0, shuffle: int = 0, written: int = 0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ms * 1_000_000,
            "JVM GC Time": gc_ms,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Output Metrics": {"Bytes Written": written},
        },
    }


def _job(job: int, group: str, stages: list[int], exec_id: int):
    props = {"spark.jobGroup.id": group, "spark.sql.execution.id": str(exec_id)}
    evs = [{"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages, "Properties": props}]
    evs += [
        {
            "Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": s, "Stage Attempt ID": 0},
            "Properties": props,
        }
        for s in stages
    ]
    return evs


#: two layers: "a" (group tr:0) runs one stage of 3 tasks, "b" (tr:1) two
#: stages; one job outside any span
CANNED = (
    [{"Event": f"{SQL}Start", "executionId": 0, "time": 1000,
      "physicalPlanDescription": "== Physical Plan ==\n* Project\n+- ArrowEvalPython [f]\n   +- ArrowEvalPython [g]\n\n(1) ArrowEvalPython\n"}]
    + _job(0, "tr:0", [0], 0)
    + [_task(0, 100, 50, gc_ms=10, shuffle=1_000_000), _task(0, 100, 50), _task(0, 400, 100)]
    + [{"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
        "executionId": 0,
        "physicalPlanDescription": "AdaptiveSparkPlan isFinalPlan=true\n+- == Final Plan ==\n   ArrowEvalPython [f]\n   +- ArrowEvalPython [g]\n      +- ArrowEvalPython [h]\n+- == Initial Plan ==\n   ArrowEvalPython [f]\n   +- ArrowEvalPython [g]\n"}]
    + [{"Event": f"{SQL}End", "executionId": 0, "time": 1600}]
    + [{"Event": f"{SQL}Start", "executionId": 1, "time": 2000,
        "physicalPlanDescription": "Execute InsertIntoHadoopFsRelationCommand file:/o/sink=x"}]
    + _job(1, "tr:1", [1, 2], 1)
    + [_task(1, 300, 300, written=2_000_000), _task(2, 100, 0)]
    + [{"Event": f"{SQL}End", "executionId": 1, "time": 2500}]
    + _job(2, None, [3], 2)
    + [_task(3, 9000, 9000)]
)


def _spans(tr: Tracer, *items) -> None:
    for sid, (name, parent, s, e) in enumerate(items):
        tr.spans.append(Span(sid, name, parent, tr.trace_id, s, e))


def test_self_time_subtracts_union_of_children():
    tr = Tracer()
    _spans(
        tr,
        ("root", None, 0.0, 10.0),
        ("k1", 0, 1.0, 4.0),
        ("k2", 0, 3.0, 5.0),  # overlaps k1: covered = 1..5
        ("k3", 0, 9.0, 12.0),  # clipped to the parent's end
        ("grandchild", 1, 1.5, 2.0),
    )
    st = self_times(tr.spans)
    assert st[0] == pytest.approx(10 - 4 - 1)
    assert st[1] == pytest.approx(3 - 0.5)
    assert st[4] == pytest.approx(0.5)


def test_tracer_nests_and_records_parent():
    tr = Tracer()
    with tr.span("outer") as o:
        with tr.span("inner") as i:
            pass
    assert i.parent == o.span_id and o.parent is None
    assert o.start <= i.start <= i.end <= o.end
    assert len({s.trace_id for s in tr.spans}) == 1


def _write_plain(tmp_path) -> str:
    d = tmp_path / "log"
    d.mkdir()
    (d / "local-1").write_text("\n".join(json.dumps(e) for e in CANNED) + "\n")
    return str(d)


def test_read_events_plain_and_rolled_zstd(tmp_path):
    import pyarrow as pa

    plain = list(read_events(_write_plain(tmp_path)))
    roll = tmp_path / "roll" / "eventlog_v2_local-1"
    roll.mkdir(parents=True)
    half = len(CANNED) // 2
    for i, part in ((1, CANNED[:half]), (2, CANNED[half:])):
        with pa.output_stream(str(roll / f"events_{i}_local-1.zstd"), compression="zstd") as f:
            f.write("".join(json.dumps(e) + "\n" for e in part).encode())
    assert list(read_events(str(tmp_path / "roll"))) == plain == CANNED


def test_layer_stats_attributes_by_job_group(tmp_path):
    log = EventLog.parse(read_events(_write_plain(tmp_path)))
    tr = Tracer()
    tr.trace_id = "tr"
    _spans(tr, ("a", None, 0.0, 1.0), ("b", None, 1.0, 1.5))
    st = layer_stats(tr, log, cores=2)
    a, b = st["a"], st["b"]
    assert a["task_s"] == pytest.approx(0.6)
    assert a["cpu_s"] == pytest.approx(0.2)
    assert a["gc_s"] == pytest.approx(0.01)
    assert a["shuffle_write_mb"] == pytest.approx(1.0)
    assert a["task_skew"] == pytest.approx(4.0)  # 400 ms over the 100 ms median
    assert a["core_util"] == pytest.approx(0.6 / (1.0 * 2))
    assert b["task_s"] == pytest.approx(0.4)  # the ungrouped job is nobody's
    assert b["written_mb"] == pytest.approx(2.0)
    assert b["jobs"] == 1.0
    assert [e.exec_id for e in log.group_execs({"tr:1"})] == [1]
    # the last adaptive update replaces the first plan; its initial-plan
    # section is not counted
    assert count_plan_nodes(log.executions[0].plan, "ArrowEvalPython") == 3


def test_span_without_tasks_is_an_error(tmp_path):
    log = EventLog.parse(read_events(_write_plain(tmp_path)))
    tr = Tracer()
    tr.trace_id = "tr"
    _spans(tr, ("missing", None, 0.0, 1.0), ("missing2", None, 0.0, 1.0), ("x", None, 0, 1))
    with pytest.raises(ValueError, match="no Spark tasks"):
        layer_stats(tr, log, cores=1)


def test_manifest_phases_split_by_write_path():
    from trace import Execution
    from workloads import manifest_phases

    execs = [
        Execution(0, "LocalTableScan", 0, 100),
        Execution(1, "InMemoryTableScan ArrowEvalPython", 100, 2100),
        Execution(2, "InsertIntoHadoopFsRelationCommand file:/o/sink=a", 2100, 2600),
        Execution(3, "HashAggregate InMemoryTableScan", 2600, 2700),
        Execution(4, "InsertIntoHadoopFsRelationCommand file:/o/_manifest", 2700, 3000),
    ]
    assert manifest_phases(execs) == pytest.approx(
        {"pipeline": 2.1, "write": 0.5, "count": 0.1, "commit": 0.3}
    )


def test_untraced_layers_report_zero_and_traced_ones_must_be_complete():
    from workloads import complete_layer_metrics, per_layer_units

    stream = {k: 1.0 for k in per_layer_units() if k.split(".")[0] in ("stream_pipeline", "trace")}
    out = complete_layer_metrics(stream, ["stream_pipeline"])
    assert set(out) == set(per_layer_units())
    assert out["stream_pipeline.drain_s"] == 1.0 and out["concat.fold_ratio"] == 0.0
    del stream["stream_pipeline.cpu_s"]
    with pytest.raises(ValueError, match="stream_pipeline.cpu_s"):
        complete_layer_metrics(stream, ["stream_pipeline"])
    # one dataprep span makes every dataprep.* metric due, the family ones too
    with pytest.raises(ValueError, match="dataprep.keep_ratio"):
        complete_layer_metrics({**stream, "stream_pipeline.cpu_s": 1.0}, ["stream_pipeline", "dataprep.lsh"])


def test_metric_names_and_benchmark_json_agree():
    from workloads import END_TO_END, WORKLOADS, per_layer_units

    layers = per_layer_units()
    for name in list(END_TO_END) + list(layers):
        assert NAME_RE.match(name), name
    with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_stop_descendants_ends_orphaned_grandchildren():
    import subprocess

    # the shell exits at once, so its background sleep is orphaned the way
    # the Python worker daemon is when the JVM exits before it
    script = (
        "import subprocess, sys\n"
        f"sys.path.insert(0, {os.path.dirname(HERE)!r})\n"
        "from harness import adopt_orphans, descendants, stop_descendants\n"
        "import os\n"
        "adopt_orphans()\n"
        "out = subprocess.run(['sh', '-c', 'sleep 300 >/dev/null 2>&1 & echo $!'], capture_output=True, text=True)\n"
        "pid = int(out.stdout)\n"
        "assert pid in descendants(os.getpid()), 'orphan not adopted'\n"
        "stop_descendants(grace=2)\n"
        "assert not descendants(os.getpid())\n"
        "print(pid)\n"
    )
    done = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=60)
    assert done.returncode == 0, done.stderr
    assert not os.path.exists(f"/proc/{int(done.stdout)}")
