"""Print a JSON fingerprint of the query registry, one entry per query.

Each entry gives the query's name, tier, headline flag, whether it has a
Python oracle, and the sha256 of its oracle ``sql`` (null when it has
none).  Diff the output of two checkouts to show that a refactor left the
registry unchanged:

    python3 tools/registry_fingerprint.py > after.json
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from nqs_console_flink_window_spark.plans import all as _all  # noqa: E402,F401
from nqs_console_flink_window_spark.plans.registry import REGISTRY  # noqa: E402

print(json.dumps([
    {
        "name": q.name,
        "tier": q.tier,
        "headline": q.headline,
        "oracle_py": q.oracle_py is not None,
        "sql_sha256": None if q.sql is None
        else hashlib.sha256(q.sql.encode()).hexdigest(),
    }
    for q in REGISTRY.values()
], indent=1))
