"""Capture `.explain("formatted")` for bench queries into plans/<round>/.

Optimization-round evidence (guide §1): one file per query,
`plans/<round>/<key>_<tag>.txt`, where tag is `before` or `after`.

Usage:
    python tools/capture_plans.py r18 before [key ...]
    python tools/capture_plans.py r18 after  [key ...]

With no keys, captures the full bench set (HEADLINE + SECONDARY).
Plans are captured at sf0.001 (plan shape is scale-independent; the
iterative operators execute their loop eagerly while building, so the
captured plan is the final round's — the per-round shape).

Expression ids (`#123`, `#123L`) and `plan_id=N` are stripped: they
depend on how many plans the session built before, so only with them
gone do `before` and `after` files of the same plan diff clean.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from blockchain2graphdb_spark import registry
from blockchain2graphdb_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
PLANS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans")
_SESSION_IDS = re.compile(r"#\d+L?|plan_id=\d+")


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        sys.exit("usage: capture_plans.py ROUND before|after [key ...]")
    rnd, tag, keys = sys.argv[1], sys.argv[2], sys.argv[3:]
    out = os.path.join(PLANS, rnd)
    if not keys:
        import bench
        keys = list(bench.HEADLINE) + list(bench.SECONDARY)
    os.makedirs(out, exist_ok=True)
    specs = registry.load_all()
    spark = get_spark(f"plans-{rnd}")
    for k in keys:
        df = specs[k].builder(spark, SF_DIR)
        plan = _SESSION_IDS.sub("", df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ))
        with open(os.path.join(out, f"{k}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {k}_{tag}.txt ({plan.count('Exchange')} Exchange lines)")


if __name__ == "__main__":
    main()
