"""Cluster-profile knob story, executable (round 7, VERDICT r6 #7):
the env→conf mapping is a pure function (pinned here), the submit
script consumes it via a CLI (pinned here), and a profile-built session
carries the exact confs (pinned in a fresh subprocess JVM — the shared
test session would mask conf changes, getOrCreate reuses the first
JVM's config)."""

from __future__ import annotations

import ast
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

from dataingestion_pt_ms_spark.session import (
    CODEGEN_CACHE_MAX_ENTRIES,
    STATE_STORES_PER_OP,
    cluster_profile_conf,
    interval_join_state_gb,
    streaming_state_conf,
)


def test_cluster_profile_conf_formulas():
    conf = cluster_profile_conf(
        {
            "SPARK_GRAFT_EXECUTORS": "200",
            "SPARK_GRAFT_EXECUTOR_CORES": "8",
            "SPARK_GRAFT_EXECUTOR_MEM": "32g",
            "SPARK_GRAFT_SHUFFLE_MULT": "3",
            "SPARK_GRAFT_MAX_PARTITION_BYTES": "256m",
            "SPARK_GRAFT_DRIVER_MEM": "16g",
        }
    )
    assert conf == {
        "spark.executor.instances": "200",
        "spark.executor.cores": "8",
        "spark.executor.memory": "32g",
        # the documented 2-3x-total-cores rule, computed: 3 * 200 * 8
        "spark.sql.shuffle.partitions": "4800",
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.driver.memory": "16g",
        # fixed: every executor JVM sizes its own codegen cache from it
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_MAX_ENTRIES),
    }
    # defaults hold when the env is empty
    d = cluster_profile_conf({})
    assert d["spark.sql.shuffle.partitions"] == str(3 * 8 * 4)
    assert d["spark.executor.memory"] == "16g"
    assert d["spark.sql.codegen.cache.maxEntries"] == str(CODEGEN_CACHE_MAX_ENTRIES)


def test_streaming_state_conf_formulas():
    """BENCH.md §17c's stores-per-core arithmetic as code (round 10,
    VERDICT r9 #1): the measured dial — 8 partitions meet a 2 s trigger
    the 32-partition default cannot meet at ANY rate; 32 carry
    800 k rows/s/side at 5 s."""
    join = STATE_STORES_PER_OP["stream_stream_join"]
    # the §17c winning config, selected programmatically: 32 cores,
    # one interval join (4 stores/partition), 2 s trigger → 8 parts
    latency = streaming_state_conf(join, cores=32, trigger_seconds=2)
    assert latency == {"spark.sql.shuffle.partitions": "8"}
    # ≥5 s trigger (or none): throughput-sized to the cores
    assert streaming_state_conf(join, cores=32, trigger_seconds=5) == {
        "spark.sql.shuffle.partitions": "32"
    }
    assert streaming_state_conf(1, cores=32)[
        "spark.sql.shuffle.partitions"
    ] == "32"
    # key cardinality caps (a keyless partition still commits per batch)
    assert streaming_state_conf(1, cores=32, key_cardinality=5) == {
        "spark.sql.shuffle.partitions": "5"
    }
    # GB-scale state adds the RocksDB provider (§17b's state-size rule)
    big = streaming_state_conf(join, cores=32, trigger_seconds=2, state_gb=2.0)
    assert big["spark.sql.shuffle.partitions"] == "8"
    assert big["spark.sql.streaming.stateStore.providerClass"].endswith(
        "RocksDBStateStoreProvider"
    )
    # more store kinds than cores still yields a sane floor
    assert streaming_state_conf(64, cores=32, trigger_seconds=1) == {
        "spark.sql.shuffle.partitions": "1"
    }
    # object_store gates RocksDB changelog checkpointing (§17c finding
    # 3: the production default on S3-class storage, neutral-to-worse
    # on local disk — so flag-gated, and only with RocksDB selected)
    objs = streaming_state_conf(
        join, cores=32, trigger_seconds=2, state_gb=2.0, object_store=True
    )
    assert (
        objs[
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled"
        ]
        == "true"
    )
    small = streaming_state_conf(
        join, cores=32, trigger_seconds=2, object_store=True
    )
    assert "spark.sql.streaming.stateStore.providerClass" not in small
    assert not any("changelog" in k for k in small)
    with pytest.raises(ValueError):
        streaming_state_conf(0)


def test_interval_join_state_estimate_matches_measured_run():
    """The per-row constant must reproduce §17b's recorded run: 100 k
    rows/s/side accumulated ~70 s on both sides ≈ 1.9 GB heap state
    (nothing evicts inside the run, so elapsed time stands in for the
    watermark+lookback horizon)."""
    est = interval_join_state_gb(100_000, lookback_minutes=70 / 60, watermark_minutes=0)
    assert 1.5 <= est <= 2.4  # measured 1.883 GB
    # steady state of the same job (15 m watermark + 10 m lookback) is
    # tens of GB — the provider rule must flip to RocksDB
    steady = interval_join_state_gb(100_000, 10, 15)
    assert steady > 20
    conf = streaming_state_conf(
        STATE_STORES_PER_OP["stream_stream_join"],
        cores=32,
        trigger_seconds=2,
        state_gb=steady,
    )
    assert "RocksDB" in conf["spark.sql.streaming.stateStore.providerClass"]


def test_submit_conf_cli_emits_profile_flags():
    out = subprocess.run(
        [sys.executable, "-m", "dataingestion_pt_ms_spark.session", "--submit-conf"],
        capture_output=True,
        text=True,
        check=True,
        cwd="/root/repo",
        env={
            "PATH": "/usr/bin:/bin",
            "SPARK_GRAFT_EXECUTORS": "50",
            "SPARK_GRAFT_EXECUTOR_CORES": "4",
        },
    ).stdout
    assert "--conf spark.executor.instances=50" in out
    assert "--conf spark.sql.shuffle.partitions=600" in out  # 3*50*4
    assert "--conf spark.sql.files.maxPartitionBytes=128m" in out
    assert f"--conf spark.sql.codegen.cache.maxEntries={CODEGEN_CACHE_MAX_ENTRIES}" in out


def test_profile_built_session_carries_confs():
    """Boot a FRESH JVM under the cluster profile and assert the session
    conf — proving get_spark applies the mapping, not just computes it."""
    code = """
import sys
sys.path.insert(0, "/root/repo")
from dataingestion_pt_ms_spark.session import get_spark
spark = get_spark("profile-smoke")
for k in ("spark.executor.instances", "spark.executor.cores",
          "spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes"):
    print(k, "=", spark.conf.get(k))
spark.stop()
"""
    import os

    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CLUSTER_PROFILE": "1",
            "SPARK_GRAFT_EXECUTORS": "12",
            "SPARK_GRAFT_EXECUTOR_CORES": "5",
            "SPARK_GRAFT_SHUFFLE_MULT": "2",
        }
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        check=True,
        env=env,
        timeout=300,
    ).stdout
    assert "spark.executor.instances = 12" in out
    assert "spark.executor.cores = 5" in out
    assert "spark.sql.shuffle.partitions = 120" in out  # 2 * 12 * 5
    assert "spark.sql.files.maxPartitionBytes = 128m" in out


def test_localcheckpoint_only_inside_materialize():
    """``session.materialize`` owns the materialization policy: no other
    code in the package may reach ``localCheckpoint`` directly."""
    pkg = Path(__file__).resolve().parent.parent / "dataingestion_pt_ms_spark"
    allowed, stray = [], []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        inside = set()
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and fn.name == "materialize":
                inside.update(id(n) for n in ast.walk(fn))
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "localCheckpoint":
                site = f"{path.relative_to(pkg)}:{node.lineno}"
                ok = path.name == "session.py" and id(node) in inside
                (allowed if ok else stray).append(site)
    assert len(allowed) == 1, allowed
    assert not stray, f"call session.materialize instead: {stray}"


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_lazy_materialize_runs_shuffle_stages_at_call_under_aqe(spark, aqe):
    """The timing ``session.materialize`` documents: with AQE on (the
    engine default) a lazy call runs the subtree's shuffle stage at the
    call and defers only the final stage; with AQE off it runs no job."""
    from pyspark.sql import functions as F

    from dataingestion_pt_ms_spark.session import materialize

    sc = spark.sparkContext
    group = f"lazy-materialize-aqe-{aqe}"
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    try:
        sc.setJobGroup(group, group)
        agg = spark.range(0, 1000).groupBy((F.col("id") % 10).alias("k")).count()
        df = materialize(agg)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events reach the tracker
        at_call = len(sc.statusTracker().getJobIdsForGroup(group))
        assert df.count() == 10
    finally:
        sc.setJobGroup("", "")
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    if aqe == "true":
        assert at_call >= 1
    else:
        assert at_call == 0


def _llm_curation_queries() -> tuple[str, ...]:
    """The llm_curation benchmark workload's queries, read from
    ``perfbench/workloads.py`` without importing it."""
    src = Path(__file__).resolve().parent.parent / "perfbench" / "workloads.py"
    for node in ast.parse(src.read_text()).body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "LLM_CURATION" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("LLM_CURATION not found")


def test_repeated_llm_curation_pass_compiles_nothing(spark, sf_dir):
    """The codegen cache holds a whole llm_curation pass: built and drained
    again, the ten queries reuse every generated class. At Spark's default
    size (100) the second pass recompiled about 240."""
    from dataingestion_pt_ms_spark.queries import registry

    specs, names = registry(), _llm_curation_queries()
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    counts = []
    for _ in range(2):
        for name in names:
            specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        counts.append(compiles.METRIC_COMPILATION_TIME().getCount())
    assert counts[1] == counts[0], f"second pass compiled {counts[1] - counts[0]} classes"


def test_small_codegen_cache_warns_once(monkeypatch):
    """A session built elsewhere with a smaller codegen cache cannot be
    resized (static conf): the catalog names both sizes, once."""
    from dataingestion_pt_ms_spark import catalog

    conf = {"spark.sql.codegen.cache.maxEntries": "100"}
    stub = SimpleNamespace(conf=SimpleNamespace(get=conf.__getitem__))
    monkeypatch.setattr(catalog, "_codegen_cache_warned", False)
    with pytest.warns(RuntimeWarning) as caught:
        catalog._warn_small_codegen_cache(stub)
        catalog._warn_small_codegen_cache(stub)
    assert len(caught) == 1
    msg = str(caught[0].message)
    assert "100" in msg and str(CODEGEN_CACHE_MAX_ENTRIES) in msg
