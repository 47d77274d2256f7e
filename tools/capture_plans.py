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

Three session-dependent tokens are normalized, so that `before` and
`after` files of the same plan diff clean even when they come from
different checkouts:

* expression ids (`#123`, `#123L`) and `plan_id=N` are stripped: they
  depend on how many plans the session built before;
* lambda variables lose PySpark's process-wide counter suffix
  (`lambda x_12` -> `lambda x`), which also counts every lambda built
  before;
* the checkout root (`paths.REPO_ROOT`, e.g. in the file index of a
  `.tmp` derivation) is written `<repo>`.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from blockchain2graphdb_spark import registry
from blockchain2graphdb_spark.paths import REPO_ROOT
from blockchain2graphdb_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
PLANS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans")
_SESSION_IDS = re.compile(r"#\d+L?|plan_id=\d+")
_LAMBDA_COUNTER = re.compile(r"(lambda \w+?)_\d+\b")


def normalize(plan: str) -> str:
    """The plan text with the session-dependent tokens above removed."""
    plan = _LAMBDA_COUNTER.sub(r"\1", _SESSION_IDS.sub("", plan))
    return plan.replace(REPO_ROOT, "<repo>")


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
        plan = normalize(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ))
        with open(os.path.join(out, f"{k}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {k}_{tag}.txt ({plan.count('Exchange')} Exchange lines)")


if __name__ == "__main__":
    main()
