"""Dump `.explain("formatted")` plans for registered queries into
<out_dir>/<query>_<tag>.txt — the before/after evidence the
optimization-round deliverables require.

Usage:
    python tools/dump_plans.py [--build] <out_dir> <tag> [q_name ...]

e.g. ``python tools/dump_plans.py plans/r13 after q_kmeans``. Each
round writes its own directory, so a new pair never overwrites an
earlier round's evidence. With no names, dumps every registered bench
query. Tag is typically "before" or "after". Data dir from
$SPARK_GRAFT_SF_DIR (default sf0.1); plans are CONSTRUCTED only (no
action runs), so this is cheap — but note operators with eager probes
(guarded dedup/similarity paths, iterative loops) do execute their
setup jobs during plan construction.

``--build`` shows those setup jobs too. For an iterative operator the
returned frame's plan is only a checkpoint scan; the work happens in
the SQL executions run while the query is built. The session then
writes an event log, and each file lists one summary line (jobs,
stages and tasks run during build, SQL executions, and joins that
AQE turned from sort-merge into broadcast at run time), then every
build-time SQL execution's initial and final adaptive plan trees in
place of the returned frame's plan.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from flink_framework_spark.plans.inspect import formatted_plan  # noqa: E402
from flink_framework_spark.registry import all_queries  # noqa: E402
from flink_framework_spark.session import get_spark  # noqa: E402

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_UPDATE = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
)
# codegen wrappers: they add a level to every tree and say nothing here
WRAPPERS = ("InputAdapter", "WholeStageCodegen")


def _key(node: dict) -> str:
    """A plan subtree (an event's ``sparkPlanInfo``) as one string."""
    return f"{node['simpleString']}({','.join(map(_key, node['children']))})"


def _render(node: dict, seen: set[str], depth: int = 0) -> list[str]:
    """The node names of a plan, indented by depth. A subtree the plan
    repeats (one per scan of a persisted frame) is written out only the
    first time."""
    if node["nodeName"].startswith(WRAPPERS):
        return [sub for child in node["children"]
                for sub in _render(child, seen, depth)]
    line = "  " * depth + node["nodeName"].strip()
    key = _key(node)
    if node["children"] and key in seen:
        return [line + " (as above)"]
    seen.add(key)
    return [line] + [
        sub for child in node["children"] for sub in _render(child, seen, depth + 1)
    ]


def build_executions(log_dir: Path) -> dict[str, list[dict]]:
    """``{job group: [{id, initial, final}]}`` for every SQL execution
    in the event log, with its first and last plan."""
    execs: dict[int, dict] = {}
    for path in sorted(log_dir.iterdir()):
        if path.name.startswith("."):  # checksum files
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == SQL_START:
                    plan = ev["sparkPlanInfo"]
                    execs[ev["executionId"]] = {
                        "id": ev["executionId"], "group": ev.get("jobGroupId"),
                        "initial": plan, "final": plan,
                    }
                elif kind == SQL_UPDATE and ev["executionId"] in execs:
                    execs[ev["executionId"]]["final"] = ev["sparkPlanInfo"]
    out: dict[str, list[dict]] = {}
    for ex in execs.values():
        out.setdefault(ex["group"], []).append(ex)
    return out


def runtime_broadcasts(ex: dict) -> int:
    """Sort-merge joins of the initial plan that AQE re-planned as
    broadcast joins."""
    return (_key(ex["initial"]).count("SortMergeJoin")
            - _key(ex["final"]).count("SortMergeJoin"))


def build_report(execs: list[dict], totals: dict) -> str:
    lines = [
        f"build: jobs={totals.get('jobs', 0)} stages={totals.get('stages', 0)}"
        f" tasks={totals.get('tasks', 0)} sql_executions={len(execs)}"
        f" smj_to_bhj={sum(map(runtime_broadcasts, execs))}",
        "",
    ]
    for ex in execs:
        for phase in ("initial", "final"):
            if phase == "initial" or ex["final"] is not ex["initial"]:
                lines.append(f"== execution {ex['id']}: {phase} ==")
                lines += _render(ex[phase], set()) + [""]
    return "\n".join(lines)


def main() -> None:
    args = sys.argv[1:]
    build = "--build" in args
    if build:
        args.remove("--build")
    if len(args) < 2:
        raise SystemExit(__doc__)
    out_dir, tag, *names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="dump-plans")
    if build:
        from run import set_event_log

        # a new context writes the event log
        log_dir = Path(tempfile.mkdtemp(prefix="dump-plans-events-"))
        set_event_log(spark, log_dir)
        spark.stop()
        spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    registry = all_queries()
    if not names:
        names = sorted(n for n, q in registry.items() if q.bench)
    plans, failed = {}, set()
    for name in names:
        sc.setJobGroup(f"{name}#build", name)
        try:
            df = registry[name].fn(spark, sf_dir)
            plans[name] = formatted_plan(df)
        except Exception as exc:  # noqa: BLE001
            plans[name] = f"PLAN CONSTRUCTION FAILED: {exc!r}"
            failed.add(name)
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.catalog.clearCache()
    spark.stop()  # the event log is complete only once the context stops
    if build:
        from eventlog import group_totals

        execs, totals = build_executions(log_dir), group_totals(log_dir)
        for name in set(names) - failed:
            group = f"{name}#build"
            plans[name] = build_report(execs.get(group, []), totals.get(group, {}))
        shutil.rmtree(log_dir, ignore_errors=True)
    for name in names:
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plans[name])
        print(f"wrote {path}", flush=True)


if __name__ == "__main__":
    main()
