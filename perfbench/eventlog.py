"""Aggregate a Spark event log per job group (= per engine layer).

The traced run enables ``spark.eventLog`` into its work dir and tags every
public call with ``setJobGroup(<layer>)`` (``trace.py``). After the session
stops, this module reads the log (one JSON object per line) and sums the
task metrics of each layer. Stages map to layers through the job-group
property carried by ``SparkListenerStageSubmitted``; tasks map through their
stage.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

UNTAGGED = "(untagged)"

# SQL metrics of PySpark's Python exec nodes (mapInPandas, applyInPandas,
# Arrow UDFs) as they appear, lower-cased, in task accumulables. PySpark 4.1
# reports the worker time in milliseconds.
PYTHON_TIME_ACCUMULABLES = ("time to run python workers",)
PYTHON_SENT = "data sent to python workers"
PYTHON_RETURNED = "data returned from python workers"


@dataclass
class LayerStats:
    jobs: set = field(default_factory=set)
    stages: set = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_ms: int = 0
    python_seen: bool = False
    python_bytes: int = 0
    task_ms: dict = field(default_factory=dict)  # stage id -> task durations

    @property
    def task_skew(self) -> float:
        """Max task duration over the median task duration within a stage,
        the largest over the layer's stages (1.0 when a layer ran no tasks
        or only instant ones). Taken per stage, so that a layer mixing tiny
        and heavy stages reads as skewed only when one stage is."""
        skews = [1.0]
        for ms in self.task_ms.values():
            med = statistics.median(ms)
            if med > 0:
                skews.append(max(ms) / med)
        return max(skews)

    @property
    def cpu_s(self) -> float:
        return self.cpu_ns / 1e9


def _accumulables(task_info: dict) -> list[tuple[str, int]]:
    out = []
    for acc in task_info.get("Accumulables") or ():
        name = str(acc.get("Name", "")).lower()
        try:
            out.append((name, int(acc.get("Update", 0))))
        except (TypeError, ValueError):
            continue
    return out


def aggregate_lines(lines) -> dict[str, LayerStats]:
    """Event-log lines → ``{job group: LayerStats}``."""
    stage_group: dict[int, str] = {}
    layers: dict[str, LayerStats] = {}

    def stats(group: str) -> LayerStats:
        return layers.setdefault(group, LayerStats())

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or UNTAGGED
            stats(group).jobs.add(ev["Job ID"])
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or UNTAGGED
            stage_group[info["Stage ID"]] = group
            stats(group).stages.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            stage = ev["Stage ID"]
            group = stage_group.get(stage, UNTAGGED)
            s = stats(group)
            info = ev.get("Task Info") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            s.tasks += 1
            if reason != "Success":
                s.failed_tasks += 1
            launch, finish = info.get("Launch Time"), info.get("Finish Time")
            if launch is not None and finish:
                s.task_ms.setdefault(stage, []).append(max(0, finish - launch))
            m = ev.get("Task Metrics") or {}
            s.run_ms += m.get("Executor Run Time", 0)
            s.cpu_ns += m.get("Executor CPU Time", 0)
            s.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            inp = m.get("Input Metrics") or {}
            s.input_bytes += inp.get("Bytes Read", 0)
            s.input_records += inp.get("Records Read", 0)
            s.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            s.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            s.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            for name, update in _accumulables(info):
                if name in PYTHON_TIME_ACCUMULABLES:
                    s.python_seen = True
                    s.python_ms += update
                elif name in (PYTHON_SENT, PYTHON_RETURNED):
                    s.python_bytes += update
    return layers


def find_log(log_dir: str) -> str:
    """The one finished application log in ``log_dir``."""
    paths = [
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not p.endswith(".inprogress")
    ]
    if len(paths) != 1:
        raise FileNotFoundError(
            f"expected one finished event log in {log_dir}, found {len(paths)}"
        )
    return paths[0]


def aggregate(log_dir: str) -> dict[str, LayerStats]:
    with open(find_log(log_dir)) as f:
        return aggregate_lines(f)
