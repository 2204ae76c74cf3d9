from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    from reverse_etl_homebrew_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def cluster_pin(spark, tmp_path, monkeypatch):
    """Route ``session.pin`` through its non-local branch: the master it
    observes is a cluster's, and reliable checkpoints land under the
    returned directory."""
    from reverse_etl_homebrew_spark import session

    sc = spark.sparkContext
    ckpt = tmp_path / "ckpt"
    sc.setCheckpointDir(str(ckpt))
    monkeypatch.setattr(
        session, "_pin_target", lambda s: ("local-cluster[2,1,1024]", sc.getCheckpointDir())
    )
    return ckpt

