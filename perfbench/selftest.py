"""Fast self-test of the benchmark harness; needs no Spark session.

    python3 perfbench/selftest.py

Covers the event-log parser, the output checks on a tiny hand-made
fixture, the tail percentile, and the printed result line, and checks
that the metric lists in run.py match BENCHMARK.json when it is present.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import host  # noqa: E402
import run  # noqa: E402
import stage  # noqa: E402
import tracing  # noqa: E402


def _task_end(stage_id: int, run_ms: int, gc_ms: int, sw_bytes: int, sw_rec: int,
              reason: str = "Success", read: int = 0, written: int = 0) -> dict:
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
            "Task End Reason": {"Reason": reason},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                             "Disk Bytes Spilled": 0, "Memory Bytes Spilled": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": sw_bytes,
                                                       "Shuffle Records Written": sw_rec},
                             "Input Metrics": {"Bytes Read": read},
                             "Output Metrics": {"Bytes Written": written}}}


def _job_start(job_id: int, stages: list[int], group: str | None) -> dict:
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


def test_event_log(tmp: Path) -> None:
    # a rolling log split over two parts; stage 1 is reused (skipped) by a
    # later job of another group, so its tasks, even one that ends after
    # that job started, stay with operators.lsh
    d = tmp / "events" / "eventlog_v2_local-1"
    d.mkdir(parents=True)
    part1 = [_job_start(0, [0, 1], "operators.lsh"),
             _task_end(0, 1500, 100, 1000, 10), _task_end(1, 500, 0, 24, 2),
             {"Event": "SparkListenerSQLExecutionStart", "description": "x" * 200}]
    part2 = [_job_start(1, [1, 2], "sources.sinks"),
             _task_end(1, 100, 0, 0, 0),
             _task_end(2, 250, 0, 0, 0, written=4096),
             _task_end(2, 10, 0, 0, 0, reason="TaskKilled"),
             _job_start(2, [3], None), _task_end(3, 70, 0, 0, 0, read=8)]
    (d / "events_2_local-1").write_text("".join(json.dumps(e) + "\n" for e in part2))
    (d / "events_1_local-1").write_text("".join(json.dumps(e) + "\n" for e in part1))
    (d / "appstatus_local-1").write_text("")
    g = tracing.parse_event_log(tmp / "events")
    lsh, sinks = g["operators.lsh"], g["sources.sinks"]
    assert lsh["jobs"] == 1 and abs(lsh["task_s"] - 2.1) < 1e-9 and abs(lsh["gc_s"] - 0.1) < 1e-9
    assert lsh["shuffle_write_bytes"] == 1024 and lsh["shuffle_write_records"] == 12
    assert sinks["bytes_written"] == 4096 and sinks["task_failures"] == 1
    assert g[None]["bytes_read"] == 8

    walls = {"operators.lsh": [1.0, 2.0], "streaming.watch": [3.0, 9.0, 4.0]}
    m = tracing.layer_metrics(walls, g)
    assert m["operators.lsh.wall_s"] == 3.0                 # spans sum
    assert m["streaming.watch.wall_s"] == 4.0               # per-commit median
    assert m["setup.task_s"] == 0 and "sources.scan.gc_s" in m


def test_checks(tmp: Path) -> None:
    expected = pd.DataFrame({"clip_id_a": ["a", "a", "b", "d"], "clip_id_b": ["b", "c", "c", "e"],
                             "kind": ["exact", "exact", "exact", "near_audio"]})
    forbidden = pd.DataFrame({"clip_id_a": ["f", "x"], "clip_id_b": ["g", "y"]})
    fx = stage.Fixture(tmp, 8, expected, forbidden, 0.0)

    # actions table: cluster a = {a, b, c}, cluster d = {d, e}, and f joined
    # to g by mistake
    actions = tmp / "actions"
    actions.mkdir(parents=True)
    pq.write_table(pa.table({"clip_id": ["b", "c", "e", "g"], "cluster_id": ["a", "a", "d", "f"],
                             "keeper_id": ["a", "a", "d", "f"]}), actions / "part-0.parquet")
    q = stage.batch_quality(actions, fx)
    assert q["recall_by_kind"] == {"exact": 1.0, "near_audio": 1.0}
    assert q["false_pair_rate"] == 0.5 and not stage.quality_ok(q)

    # watch alerts: misses a-c, no false pairs
    alerts = tmp / "alerts" / "batch=0"
    alerts.mkdir(parents=True)
    pq.write_table(pa.table({"new_id": ["b", "c", "e"], "matched_id": ["a", "b", "d"],
                             "match_kind": ["exact", "exact", "similar_audio"]}),
                   alerts / "part-0.parquet")
    w = stage.watch_quality(tmp / "alerts", fx)
    assert abs(w["recall_by_kind"]["exact"] - 2 / 3) < 1e-9 and w["pair_recall"] == w["recall_by_kind"]["exact"]
    assert w["false_pair_rate"] == 0.0 and not stage.quality_ok(w)

    empty = stage.pair_quality(lambda a, b: a == b, expected.iloc[:0], forbidden.iloc[:0])
    assert empty["pair_recall"] is None and stage.quality_ok(empty)


def test_printing() -> None:
    assert run.tail([1.0] * 10) is None
    p, v = run.tail([float(i) for i in range(1, 21)])
    assert p == 50.0 and v == 10.0
    line = run.result_line(True, 3, 0, {"setup_s": 1.5, "clips_per_cpu_s": 27.5, "peak_rss_mb": 900.0},
                           run.END_TO_END)
    doc = json.loads(line)
    assert set(doc) == {"correct", "attempted", "failed", "metrics"}
    assert doc["metrics"]["clips_per_cpu_s"] == {"value": 27.5, "unit": "clips/cpu-s"}
    try:
        run.result_line(True, 1, 0, {"setup_s": 1.0}, run.END_TO_END)
    except KeyError:
        pass
    else:
        raise AssertionError("a missing metric must not print a result")


def test_job_cpu() -> None:
    # a child that burns ~0.3 s of CPU, then waits to be read: it counts as a
    # descendant of this process, and a process does not count itself
    child = subprocess.Popen([sys.executable, "-c",
                              "import sys, time\nt = time.process_time()\n"
                              "while time.process_time() - t < 0.3: pass\n"
                              "print(flush=True); sys.stdin.read()"],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    try:
        child.stdout.readline()
        assert host.descendants_cpu_s(os.getpid()) >= 0.25
        assert host.descendants_cpu_s(child.pid) == 0.0
    finally:
        child.stdin.close()
        child.wait()


def test_benchmark_json() -> None:
    path = HERE.parent / "BENCHMARK.json"
    if not path.is_file():
        return
    spec = json.loads(path.read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def main() -> int:
    work = HERE.parent / ".bench_work"
    work.mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as d:
        tmp = Path(d)
        test_event_log(tmp / "log")
        test_checks(tmp / "checks")
    test_printing()
    test_job_cpu()
    test_benchmark_json()
    print("perfbench selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
