"""Plan-fingerprint regression guard (tools/plan_snapshot.py): the
operator mix of every query in the reviewed baseline must match it. A
silent broadcast->sort-merge flip, an extra exchange, or lost scan
pushdown fails HERE with a readable diff instead of surfacing as an
unexplained slowdown later. Regenerate intentionally with
`python tools/plan_snapshot.py --write [name ...]`."""

from __future__ import annotations

import json

from dataingestion_pt_ms_spark.queries import registry
from tools.plan_snapshot import compute_all, load_baseline


def test_plan_fingerprints_match_baseline(spark, sf_dir):
    baseline = load_baseline()
    # a renamed or deleted query would otherwise drop out of the guard
    unknown = sorted(set(baseline) - set(registry()))
    assert not unknown, f"baseline names unregistered queries: {unknown}"
    current = compute_all(spark, sf_dir, baseline)
    diffs = {
        n: {"baseline": baseline[n], "current": current[n]}
        for n in current
        if baseline[n] != current[n]
    }
    assert not diffs, json.dumps(diffs, indent=2)
