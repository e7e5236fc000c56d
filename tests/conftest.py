from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from db_loader_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _isolated_db_config(tmp_path, monkeypatch):
    """Never let a test touch the developer's real ~/.db_config: every
    test gets a fresh DB_CONFIG_PATH (honored by default_config_path),
    which also kills order-dependence through shared home-dir state."""
    monkeypatch.setenv("DB_CONFIG_PATH", str(tmp_path / "db_config.edn"))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus="8")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL
