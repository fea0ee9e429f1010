"""Local-mode session tuning: which masters get it, and how their task
slots are parsed. Pure functions, no SparkSession needed."""

from __future__ import annotations

import os

import pytest

from opentelemetry_collector_spark.session import local_mode_conf, local_parallelism

ENV: dict[str, str] = {"SPARK_GRAFT_LOCAL_DIR": ""}  # no env overrides


@pytest.mark.parametrize(
    "master, slots",
    [
        ("local", 1),
        ("local[4]", 4),
        ("local[*]", len(os.sched_getaffinity(0))),
        ("local[4,2]", 4),
        ("local[*,3]", len(os.sched_getaffinity(0))),
    ],
)
def test_local_master_parallelism(master, slots):
    assert local_parallelism(master) == slots
    conf = local_mode_conf(master, ENV)
    assert conf["spark.sql.files.minPartitionNum"] == str(2 * slots)
    assert conf["spark.sql.files.maxPartitionBytes"] == str(16 * 1024 * 1024)
    assert conf["spark.sql.files.openCostInBytes"] == str(1024 * 1024)
    assert conf["spark.sql.adaptive.coalescePartitions.minPartitionSize"] == "64k"


def test_local_n_ignores_cpus_env():
    # the slot count comes from the master, never from SPARK_GRAFT_CPUS
    conf = local_mode_conf("local", {**ENV, "SPARK_GRAFT_CPUS": "32"})
    assert conf["spark.sql.files.minPartitionNum"] == "2"


@pytest.mark.parametrize(
    "master",
    ["spark://host:7077", "yarn", "k8s://https://host:6443", "local-cluster[2,1,1024]", "locale"],
)
def test_non_local_master_keeps_stock_defaults(master):
    assert local_parallelism(master) is None
    # no maxPartitionBytes, minPartitionNum, minPartitionSize,
    # openCostInBytes or local.dir: Spark's stock values apply
    assert local_mode_conf(master, ENV) == {}


def test_env_overrides_and_local_dir():
    conf = local_mode_conf(
        "local[2]",
        {
            "SPARK_MIN_PARTITION_NUM": "7",
            "SPARK_OPEN_COST_BYTES": "123",
            "SPARK_AQE_MIN_PARTITION_SIZE": "1m",
            "SPARK_GRAFT_LOCAL_DIR": "/tmp/x",
        },
    )
    assert conf["spark.sql.files.minPartitionNum"] == "7"
    assert conf["spark.sql.files.openCostInBytes"] == "123"
    assert conf["spark.sql.adaptive.coalescePartitions.minPartitionSize"] == "1m"
    assert conf["spark.local.dir"] == "/tmp/x"
    # an empty override disables the local dir setting
    assert "spark.local.dir" not in local_mode_conf("local[2]", ENV)
