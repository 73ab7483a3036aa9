"""Per-job-group totals from Spark event logs (JSON lines).

Only the traced run writes an event log. Jobs carry the job group the
benchmark set around each call (``spark.jobGroup.id``) and, for
streaming queries, the query's run id as group and ``batch = N`` in
their description, so every task can be attributed to a query phase or
to one micro-batch of one scenario.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "cpu_s", "gc_s",
          "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes",
          "spill_bytes")


def group_totals(log_dir: Path) -> dict[str, dict[str, float]]:
    """``{key: totals}`` where key is the job group, or for streaming
    jobs ``"<run id>@<batch id>"``."""
    stage_key: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(FIELDS, 0)
    )
    for path in sorted(log_dir.iterdir()):
        if path.name.startswith("."):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    key = props.get("spark.jobGroup.id")
                    if key is None:
                        continue
                    desc = props.get("spark.job.description") or ""
                    if "\nbatch = " in desc:
                        key = f"{key}@{desc.rsplit('batch = ', 1)[1].strip()}"
                    out[key]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_key[sid] = key
                elif kind == "SparkListenerStageCompleted":
                    key = stage_key.get(ev["Stage Info"]["Stage ID"])
                    if key is not None:
                        out[key]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    key = stage_key.get(ev.get("Stage ID"))
                    if key is None:
                        continue
                    tot = out[key]
                    tot["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        tot["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    tot["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    tot["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    tot["input_bytes"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0
                    )
                    tot["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    rd = m.get("Shuffle Read Metrics") or {}
                    tot["shuffle_read_bytes"] += rd.get(
                        "Remote Bytes Read", 0
                    ) + rd.get("Local Bytes Read", 0)
    return dict(out)
