"""Physical-plan fingerprint snapshots — scale discipline made durable.

`tests/test_plans.py` asserts plan PROPERTIES (pushdown reaches the scan,
broadcast on the flagship, no cartesian anywhere). This tool adds the
complementary guard: a per-query FINGERPRINT of the executed plan's
operator mix (join strategies, exchange count, aggregate phases, scan
pushdown flags) snapshotted to ``tools/plan_baseline.json``. A later
code or config change that silently flips a broadcast join to
sort-merge, adds an exchange, or drops pushdown now FAILS
``tests/test_plan_snapshots.py`` with a readable diff instead of
surfacing as an unexplained slowdown later.

The snapshot set is the key set of the reviewed baseline file. Add a
query to it, or regenerate intentionally, with::

    python tools/plan_snapshot.py --write [name ...]

after reviewing the printed diff. With names, only those entries are
written and the rest of the baseline is kept; without, every entry is
rewritten. Fingerprints are computed at sf0.001 (plan shape is data-size
independent under fixed confs; AQE nodes are fingerprinted from the
initial plan, which is deterministic for a fixed input and session
config).
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

BASELINE_PATH = Path(__file__).resolve().parent / "plan_baseline.json"

_FEATURES = [
    "BroadcastHashJoin",
    "SortMergeJoin",
    "BroadcastNestedLoopJoin",
    "ShuffledHashJoin",
    "CartesianProduct",
    "Exchange hashpartitioning",
    "Exchange rangepartitioning",
    "Exchange SinglePartition",
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "TakeOrderedAndProject",
    "Window",
]


def fingerprint(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    fp = {f: len(re.findall(re.escape(f), plan)) for f in _FEATURES}
    fp["PushedFilters_nonempty"] = bool(
        re.search(r"PushedFilters: \[[^\]]", plan)
    )
    return {k: v for k, v in fp.items() if v}


def load_baseline() -> dict:
    return json.loads(BASELINE_PATH.read_text())


def compute_all(spark, sf_dir: str, names) -> dict:
    from dataingestion_pt_ms_spark.queries import registry

    reg = registry()
    return {name: fingerprint(reg[name].fn(spark, sf_dir)) for name in sorted(names)}


def main() -> int:
    from dataingestion_pt_ms_spark.session import get_spark

    write = "--write" in sys.argv
    named = [a for a in sys.argv[1:] if a != "--write"]
    sf_dir = "/root/testdata/sf0.001"
    baseline = load_baseline()
    spark = get_spark("plan-snapshot")
    current = compute_all(spark, sf_dir, set(baseline) | set(named))
    diffs = {
        n: {"baseline": baseline.get(n), "current": current[n]}
        for n in current
        if baseline.get(n) != current[n]
    }
    if diffs:
        print(json.dumps(diffs, indent=2))
        print(f"{len(diffs)} plan(s) changed")
    else:
        print("all plans match baseline")
    if write:
        baseline.update({n: current[n] for n in named} if named else current)
        BASELINE_PATH.write_text(json.dumps(baseline, indent=2, sort_keys=True) + "\n")
        print(f"wrote {BASELINE_PATH}")
        return 0
    return 1 if diffs else 0


if __name__ == "__main__":
    raise SystemExit(main())
