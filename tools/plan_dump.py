"""Dump `.explain("formatted")` for named queries into plans/<round>/<q>_<tag>.txt.

Usage: python tools/plan_dump.py <tag> [query ...]
  tag   = "before" | "after" (file suffix)
  query = registry names; default = every headline query.

The plan evidence behind a claim in OPTIMIZATION_r<NN>.md.  ROUND below
names the dir it writes; the dumps are regenerable, so plans/ is listed in
.gitignore and not committed.
"""

from __future__ import annotations

import pathlib
import sys

_REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

from nqs_console_flink_window_spark.plans import all as _all  # noqa: E402,F401
from nqs_console_flink_window_spark.plans.registry import REGISTRY  # noqa: E402
from nqs_console_flink_window_spark.session import get_spark  # noqa: E402


ROUND = "r13"


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:] or [n for n, q in REGISTRY.items() if q.headline]
    sf_dir = "/root/testdata/sf0.01"
    out_dir = _REPO / "plans" / ROUND
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark("nqs-plan-dump")
    for name in names:
        q = REGISTRY[name]
        df = q.spark(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = out_dir / f"{name}_{tag}.txt"
        path.write_text(plan)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
