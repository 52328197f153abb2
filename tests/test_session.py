"""Deployment-posture tests for the session factory.

Session confs are sticky per JVM (the suite's shared session wins), so
profiles are asserted through ``build_conf`` — the exact dict
``get_spark`` feeds the builder — rather than by spawning sessions.
"""

from __future__ import annotations

from tests.test_plans import INTERACTIVE_CODEGEN_CLASSES
from world_cup_duckdb_spark.session import CLUSTER_PROFILE, build_conf

CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"


def test_local_profile_disables_shuffle_compression():
    conf = build_conf()
    # local[...]: shuffle blocks never cross a network — lz4 is pure CPU.
    assert conf["spark.shuffle.compress"] == "false"
    assert conf["spark.shuffle.spill.compress"] == "false"
    # Correctness-critical invariants of every profile.
    assert conf["spark.sql.session.timeZone"] == "UTC"
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.legacy.parquet.nanosAsLong"] == "true"
    # The generated-class cache holds the interactive working set.
    assert conf[CODEGEN_CACHE] == "1000"
    assert int(conf[CODEGEN_CACHE]) >= INTERACTIVE_CODEGEN_CLASSES


def test_cluster_profile_restores_compression_and_parallelism():
    conf = build_conf(extra_conf=CLUSTER_PROFILE)
    # On a real cluster shuffle traverses NICs/disks: compression is back on.
    assert conf["spark.shuffle.compress"] == "true"
    assert conf["spark.shuffle.spill.compress"] == "true"
    # Parallelism tracks cluster cores, not one machine.
    assert int(conf["spark.sql.shuffle.partitions"]) >= 1000
    assert conf["spark.sql.files.maxPartitionBytes"] == "256m"
    # A cluster driver serves the same interactive mix.
    assert conf[CODEGEN_CACHE] == "1000"
    assert int(conf[CODEGEN_CACHE]) >= INTERACTIVE_CODEGEN_CLASSES
    # The profile overrides posture, never correctness invariants.
    assert conf["spark.sql.session.timeZone"] == "UTC"
    assert conf["spark.sql.adaptive.enabled"] == "true"


def test_extra_conf_wins_over_profile_defaults():
    conf = build_conf(extra_conf={**CLUSTER_PROFILE,
                                  "spark.sql.shuffle.partitions": "4096"})
    assert conf["spark.sql.shuffle.partitions"] == "4096"
