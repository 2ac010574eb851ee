"""Per-layer tracing from outside the program.

Each layer's public call runs under its own Spark job group; the Spark event
log (switched on through ``get_spark(extra_conf=...)``) then yields the task
metrics of every stage the group ran. Wall time is measured around the call.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

LAYERS = (
    "setup",
    "sources.scan",
    "functions.signatures",
    "operators.lsh",
    "operators.containment",
    "operators.components",
    "operators.keeper",
    "sources.sinks",
    "sources.snapshots",
    "streaming.watch",
)

EVENT_LOG_CONF = {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false"}

_TASK_KEYS = ("task_s", "gc_s", "shuffle_write_bytes", "shuffle_write_records",
              "spill_bytes", "bytes_read", "bytes_written", "task_failures")


# ---------------------------------------------------------------- event log


def _event_files(log_dir: Path) -> list[Path]:
    """Event files in write order: a rolling log is a directory of
    ``events_<n>_<app>`` parts, a plain log one file per application."""
    def key(p: Path):
        m = re.match(r"events_(\d+)_", p.name)
        return (str(p.parent), int(m.group(1)) if m else 0)

    return sorted((p for p in log_dir.rglob("*") if p.is_file()
                   and not p.name.startswith((".", "appstatus"))), key=key)


def parse_event_log(log_dir: Path) -> dict[str, dict]:
    """job group -> summed task metrics of the stages its jobs ran, plus
    ``jobs``, the number of Spark jobs the group started."""
    stage_group: dict[int, str | None] = {}
    out: dict[str, dict] = defaultdict(lambda: {**dict.fromkeys(_TASK_KEYS, 0), "jobs": 0})
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                head = line[:64]
                if "SparkListenerJobStart" in head:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    out[group]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        # a reused stage keeps the group of the job that ran it
                        stage_group.setdefault(sid, group)
                elif "SparkListenerTaskEnd" in head:
                    ev = json.loads(line)
                    acc = out[stage_group.get(ev["Stage ID"])]
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["task_s"] += m.get("Executor Run Time", 0) / 1000
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
                    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    acc["bytes_read"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    acc["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        acc["task_failures"] += 1
    return dict(out)


# ---------------------------------------------------------------- spans


class Tracer:
    """Wall time per layer, with each span's Spark jobs tagged by job group
    (the layer) and job description (the span)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.walls: dict[str, list[float]] = defaultdict(list)
        self.sc.setJobGroup("harness", "harness")

    @contextmanager
    def span(self, layer: str, desc: str | None = None):
        self.sc.setJobGroup(layer, desc or layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[layer].append(time.perf_counter() - t0)
            self.sc.setJobGroup("harness", "harness")


def layer_metrics(walls: dict[str, list[float]], groups: dict[str, dict]) -> dict[str, float]:
    """Flat ``<layer>.<metric>`` table for every layer in LAYERS. Per-commit
    layers report the median span and the mean task metrics per commit;
    the others sum their spans."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        spans = walls.get(layer, [])
        per_commit = layer in ("streaming.watch", "sources.snapshots")
        wall = statistics.median(spans) if per_commit and spans else sum(spans)
        g = groups.get(layer) or {k: 0 for k in _TASK_KEYS}
        n = len(spans) if per_commit and spans else 1
        out[f"{layer}.wall_s"] = wall
        for k in ("task_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "task_failures"):
            out[f"{layer}.{k}"] = g[k] / n
    return out
