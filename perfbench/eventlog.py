"""Stdlib parser for an uncompressed Spark event log.

Each line of the log is one JSON listener event.  Jobs and stages carry
the submitting thread's local properties, so a job group set around a
span (`SparkContext.setJobGroup`) attributes every job and stage to
that span without any timing guesses.  Stage metrics are read from the
`Accumulables` of each completed stage attempt.
"""

from __future__ import annotations

import json
import os

GROUP_KEY = "spark.jobGroup.id"

# accumulator name -> metric key
ACCUMULABLES = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.executorCpuTime": "executor_cpu_ns",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.output.bytesWritten": "output_bytes",
}
COUNTERS = ("jobs", "stages", "tasks") + tuple(
    dict.fromkeys(ACCUMULABLES.values())
)


def _number(value) -> int:
    try:
        return int(float(value))
    except (TypeError, ValueError):
        return 0


def parse_lines(lines) -> dict[str, dict[str, int]]:
    """Per job group: job, stage and task counts and summed stage
    metrics.  Jobs without a group are filed under ""."""
    groups: dict[str, dict[str, int]] = {}
    stage_group: dict[int, str] = {}

    def bucket(group: str) -> dict[str, int]:
        return groups.setdefault(group, dict.fromkeys(COUNTERS, 0))

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
            bucket(group)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            if group is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            b = bucket(stage_group.get(info["Stage ID"], ""))
            b["stages"] += 1
            b["tasks"] += _number(info.get("Number of Tasks"))
            for acc in info.get("Accumulables", []):
                key = ACCUMULABLES.get(acc.get("Name"))
                if key:
                    b[key] += _number(acc.get("Value"))
    return groups


def parse(log_dir: str) -> dict[str, dict[str, int]]:
    """Parse every event log in `log_dir` (the run writes one,
    uncompressed and not rolling)."""
    def lines():
        for name in sorted(os.listdir(log_dir)):
            with open(os.path.join(log_dir, name), encoding="utf-8") as f:
                yield from f

    return parse_lines(lines())
