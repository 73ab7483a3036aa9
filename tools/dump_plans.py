"""Dump `.explain("formatted")` plans for registered queries into
<out_dir>/<query>_<tag>.txt — the before/after evidence the
optimization-round deliverables require.

Usage:
    python tools/dump_plans.py <out_dir> <tag> [q_name ...]

e.g. ``python tools/dump_plans.py plans/r13 after q_kmeans``. Each
round writes its own directory, so a new pair never overwrites an
earlier round's evidence. With no names, dumps every registered bench
query. Tag is typically "before" or "after". Data dir from
$SPARK_GRAFT_SF_DIR (default sf0.1); plans are CONSTRUCTED only (no
action runs), so this is cheap — but note operators with eager probes
(guarded dedup/similarity paths, iterative loops) do execute their
setup jobs during plan construction.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_framework_spark.plans.inspect import formatted_plan  # noqa: E402
from flink_framework_spark.registry import all_queries  # noqa: E402
from flink_framework_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    out_dir, tag, *names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    if not names:
        names = sorted(n for n, q in registry.items() if q.bench)
    for name in names:
        try:
            df = registry[name].fn(spark, sf_dir)
            plan = formatted_plan(df)
        except Exception as exc:  # noqa: BLE001
            plan = f"PLAN CONSTRUCTION FAILED: {exc!r}"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}", flush=True)
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
