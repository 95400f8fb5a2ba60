"""The session's one source of local cores."""

from __future__ import annotations

import os

import pytest

from aos_spark.session import local_cores


def test_local_cores_prefers_the_env_count():
    assert local_cores("6", 32) == 6
    assert local_cores("32", 4) == 32


def test_local_cores_falls_back_to_the_host_count():
    assert local_cores(None, 12) == 12
    assert local_cores("", 12) == 12
    assert local_cores(None, None) == 4


@pytest.mark.parametrize("bad", ["0", "-2", "four", "*"])
def test_local_cores_rejects_a_bad_env_count(bad):
    with pytest.raises(ValueError):
        local_cores(bad, 8)


def test_session_sizes_the_scan_split_floor_from_local_cores(spark):
    # the test session passes its master and shuffle partitions
    # explicitly; the scan split floor still comes from local_cores
    cores = local_cores(os.environ.get("SPARK_GRAFT_CPUS"), os.cpu_count())
    assert spark.conf.get("spark.sql.files.minPartitionNum") == str(cores)
